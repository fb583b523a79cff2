package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFns

/** Approximate/exact nearest-neighbor search API over embedding
  * columns — the library face behind the `ss_topk_*` catalog queries.
  *
  * Inputs: `corpus` (idCol, vecCol), `queries` (q_id, q_emb). Outputs:
  * (q_id, rank, idCol, cosine), rank 1..k, ties broken by id — fully
  * deterministic given the bit-stable fold cosine (VectorFns).
  *
  * Scale: queries are broadcast (small batch contract); brute force is
  * |Q|·N embarrassingly parallel; bucketed probing joins on the bucket
  * key so probe cost tracks bucket size, not corpus size.
  */
object Ann {

  private def rank(scored: DataFrame, k: Int, idCol: String): DataFrame = {
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col(idCol).asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col(idCol), col("cosine"))
      .orderBy("q_id", "rank")
  }

  /** Exact top-k by cosine: every query scored against every corpus
    * vector (minus itself when ids collide). */
  def topkBrute(s: SparkSession, corpus: DataFrame, queries: DataFrame,
                k: Int, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame =
    rank(
      corpus.join(broadcast(queries), col(idCol) =!= col("q_id"))
        .withColumn("cosine", VectorFns.cosineNative(s, "q_emb", vecCol)),
      k, idCol)

  // ------------------------------------------------------------------
  // IVF: data-adaptive coarse cells (seed + one deterministic Lloyd
  // step), narrow argmax assignment, and a build-once/probe-many
  // bucketed index face. The k-dependent machinery here is shared by
  // the ss_topk_ivf* catalog queries and the prebuilt-index path.
  // ------------------------------------------------------------------

  /** Integer scale for the Lloyd sums: exact order-free addition, then
    * one double division + float cast — an IEEE sequence any engine
    * replays bit-for-bit (a float mean of floats would depend on
    * partition order). */
  private val LloydScale = 1048576.0 // 2^20

  private def withCents(base: DataFrame,
                        cents: Array[(Long, Array[Float])],
                        prefix: String = "__cc"): DataFrame = {
    // every withCents consumer scores with fvec_dot (cellStructs):
    // registering HERE makes each public face (ivfAssign,
    // ivfAssignScored, ivfProbeCells, pqEncode) self-sufficient on a
    // fresh session instead of crashing with "Undefined function"
    // unless some other call incidentally registered the extension
    // first (r19 review)
    graft.GraftExtensions.ensure(base.sparkSession)
    // one select, not a withColumn fold: each withColumn re-analyzes
    // the whole accumulated plan, so k literal columns cost O(k²)
    // analyzer passes over plans carrying k·dims float literals —
    // driver-side latency every Lloyd pass and probe pays (r20)
    base.select(col("*") +: cents.zipWithIndex.map {
      case ((_, v), i) => typedLit(v).as(s"$prefix$i")
    }: _*)
  }

  /** Per-centroid (cosine, -id) structs; array_max picks max cosine
    * with ties to the LOWEST centroid id (the oracle's ORDER BY c_cos
    * DESC, c_id ASC), array_sort+reverse ranks all cells. */
  private def cellStructs(cents: Array[(Long, Array[Float])],
                          vecCol: String, prefix: String = "__cc") =
    cents.zipWithIndex.map { case ((cId, _), i) =>
      struct(
        (expr(s"fvec_dot($vecCol, $prefix$i)") /
          (expr(s"sqrt(fvec_dot($vecCol, $vecCol))") *
            expr(s"sqrt(fvec_dot($prefix$i, $prefix$i))"))).as("c"),
        lit(-cId).as("nid"))
    }

  /** [[ivfAssign]] plus the member→own-centroid cosine the argmax
    * maximized ("fit") — the per-member input to a clustering-quality
    * report. Same narrow literal-centroid map, the winning struct
    * computed once. Output: (idCol, cell, fit). */
  def ivfAssignScored(corpus: DataFrame, cents: Array[(Long, Array[Float])],
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame =
    withCents(corpus, cents)
      .withColumn("__best",
        array_max(array(cellStructs(cents, vecCol).toIndexedSeq: _*)))
      .select(col(idCol), (-col("__best")("nid")).as("cell"),
        col("__best")("c").as("fit"))

  /** Narrow cell assignment: broadcast literal centroids, per-row
    * argmax — no join, no shuffle. Output: (idCol, vecCol, cell). */
  def ivfAssign(corpus: DataFrame, cents: Array[(Long, Array[Float])],
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame =
    withCents(corpus, cents)
      .withColumn("cell",
        -array_max(array(cellStructs(cents, vecCol).toIndexedSeq: _*))("nid"))
      .select(col(idCol), col(vecCol), col("cell"))

  /** IVF centroids: the corpus' first `k` vectors as seeds, refined by
    * `steps` Lloyd iterations over the corpus (default 1; the catalog
    * faces run 2 — the second step measurably tightens cells and
    * improves probe recall, pinned in SimilaritySpec). Every driver
    * round-trip is planning-class (k rows; k·dims sums per step).
    * Deterministic: seeds are id-ordered, sums integer-scaled — each
    * step is one corpus pass whose mean computation both engines
    * replay bit-for-bit. */
  def ivfCentroids(s: SparkSession, corpus: DataFrame, k: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   steps: Int = 1)
      : Array[(Long, Array[Float])] = {
    val seeds = corpus.filter(col(idCol) < k)
      .select(col(idCol), col(vecCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    ivfCentroidsFrom(s, corpus, seeds, steps, idCol, vecCol)
  }

  /** Continue Lloyd refinement from an EXISTING centroid set —
    * `steps` additional corpus passes with the same integer-scaled,
    * deterministic update as [[ivfCentroids]] (whose k-step training
    * is seed extraction + this with `steps` passes). Two callers
    * need the split: `ss_centroid_drift` reuses its step-1 training
    * as the deeper chain's seed (one corpus pass saved per
    * comparison), and an incremental-maintenance retrain can resume
    * from the production centroids instead of re-seeding. */
  def ivfCentroidsFrom(s: SparkSession, corpus: DataFrame,
                       seed: Array[(Long, Array[Float])], steps: Int,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding")
      : Array[(Long, Array[Float])] = {
    var cents = seed
    for (_ <- 1 to steps) {
      val (refined, _, _) = lloydPass(corpus, cents, idCol, vecCol)
      // empty cells keep their previous centroid (cannot occur in step
      // 1 — a data-point seed argmaxes to itself — but CAN from step 2
      // on, once centroids are means; the fallback is mirrored in the
      // oracle so the two can never diverge)
      cents = cents.map { case (cId, v) => (cId, refined.getOrElse(cId, v)) }
    }
    cents
  }

  /** ONE deterministic Lloyd pass over `corpus` under `cents`: the
    * per-cell integer-scaled mean vector, the per-cell member count,
    * and the per-cell mean squared norm E‖x‖² — exactly the
    * arithmetic [[ivfCentroidsFrom]] iterates (factored so
    * [[ivfDriftGate]] can run the identical update over a SAMPLE and
    * read the per-cell support and dispersion its CI guard needs;
    * the extra Σ‖x‖² rides the same aggregate for free). */
  private def lloydPass(corpus: DataFrame,
                        cents: Array[(Long, Array[Float])],
                        idCol: String, vecCol: String)
      : (Map[Long, Array[Float]], Map[Long, Long], Map[Long, Double]) = {
    graft.GraftExtensions.ensure(corpus.sparkSession)
    val sums = ivfAssign(corpus, cents, idCol, vecCol)
      .select(col("cell"), posexplode(col(vecCol)).as(Seq("idx", "x")))
      .groupBy("cell", "idx")
      .agg(sum(round(col("x").cast("double") * LloydScale).cast("long"))
        .as("s"), count(lit(1)).as("n"),
        sum(col("x").cast("double") * col("x").cast("double")).as("sq"))
      .collect()
    val byCell = sums.groupBy(_.getLong(0))
    val means: Map[Long, Array[Float]] = byCell.map { case (cell, rows) =>
      cell -> rows.sortBy(_.getInt(1))
        .map(r => ((r.getLong(2).toDouble / r.getLong(3)) / LloydScale)
          .toFloat)
    }
    (means,
      byCell.map { case (cell, rows) => cell -> rows.head.getLong(3) },
      byCell.map { case (cell, rows) =>
        cell -> rows.map(_.getDouble(4)).sum / rows.head.getLong(3) })
  }

  /** The drift gate's decision record: `minAlignE6` is the decisive
    * measure (sampled when `sampledOnly`, else full), `updated` the
    * full one-step Lloyd result iff the full pass ran — the caller's
    * retrain centroids, already paid for. */
  final case class DriftGate(minAlignE6: Long, drifted: Boolean,
                             sampledOnly: Boolean,
                             updated: Array[(Long, Array[Float])])

  /** SAMPLED retrain gate — the no-drift fast path the full-pass gate
    * lacks (r16 verdict #2: the daily cron paid one full-corpus Lloyd
    * pass per run just to learn "no drift", the overwhelmingly common
    * answer). The gate runs the one-step centroid update over a
    * DETERMINISTIC md5-residue sample of the live index (the
    * `dd_lsh_recall_sampled` estimator stance: first two md5 hex
    * chars of the id mod `sampleDenom` — replay-stable, no rand())
    * and compares the sampled per-cell means against the serving
    * centroids:
    *
    *  - every cell sampled with ≥ `minCellSample` members AND every
    *    cell's sampled alignment ≥ threshold + its own CI half-width
    *    (below) → CLEAN with no full-corpus pass (the steady-state
    *    cost: ~1/sampleDenom of the Lloyd aggregate; the scan's
    *    filter is a narrow row-level predicate, the dims-explode
    *    aggregation — the actual cost — processes only the sample);
    *  - otherwise (any cell's alignment within its band, below the
    *    threshold, or under-sampled — the cases where the estimate
    *    cannot be trusted to clear the gate) → ESCALATE to the full
    *    one-step pass, whose verdict is exact and whose refined
    *    centroids double as the retrain's training result, so a
    *    drifted run never pays the pass twice.
    *
    * The CI half-width is estimated FROM THE SAMPLE, per cell — a
    * fixed margin cannot work, because the estimator's noise depends
    * on how tight the cell is: the sample mean m̂ of n_s members
    * errs from the full mean by a vector of total variance
    * σ²/n_s (σ² = E‖x‖² − ‖m̂‖², the within-cell dispersion the same
    * aggregate already measures), which misaligns cos(m̂, m) by
    * ≈ σ²/(2·n_s·‖m̂‖²). The guard uses `ciZ`² × that (default z=4 —
    * conservative, since clearing falsely skips a needed retrain
    * while escalating falsely only costs the old full pass), floored
    * at `marginE6`. Tight, well-sampled cells (the 100 TB shape —
    * millions of members per cell) clear on a few-percent sample;
    * loose or thin cells escalate honestly rather than mis-clear
    * (spec-pinned on the weakly-clustered fixture). Decision
    * agreement with the always-full gate is spec-pinned on drifted
    * and undrifted fixtures. */
  def ivfDriftGate(s: SparkSession, table: String,
                   cents: Array[(Long, Array[Float])],
                   thresholdE6: Long, sampleDenom: Int = 16,
                   marginE6: Long = 500, minCellSample: Long = 30,
                   ciZ: Double = 4.0, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DriftGate = {
    require(sampleDenom >= 1 && sampleDenom <= 256,
      "sampleDenom must divide the 256 md5-prefix buckets sensibly")
    val live = liveIvfVectors(s, table, idCol, vecCol)
    if (sampleDenom > 1) {
      val sample = live.filter(
        expr(s"conv(substring(md5(cast($idCol AS string)), 1, 2), " +
          s"16, 10) % $sampleDenom") === 0)
      val (means, counts, meanSq) = lloydPass(sample, cents, idCol, vecCol)
      val cleared = cents.map { case (id, v) =>
        val n = counts.getOrElse(id, 0L)
        val m = means.getOrElse(id, v)
        val align = graft.queries.Similarity.alignE6(v, m)
        val mNorm2 = m.foldLeft(0.0)((a, x) => a + x.toDouble * x)
        val ok = n >= minCellSample && mNorm2 > 0 && {
          val sigma2 = math.max(0.0, meanSq.getOrElse(id, 0.0) - mNorm2)
          val halfWidth = math.max(marginE6.toDouble,
            ciZ * ciZ * 1e6 * sigma2 / (2.0 * n * mNorm2))
          align >= thresholdE6 + halfWidth
        }
        (align, ok)
      }
      if (cleared.forall(_._2))
        return DriftGate(cleared.map(_._1).min, drifted = false,
          sampledOnly = true, cents)
    }
    val updated = ivfCentroidsFrom(s, live, cents, 1, idCol, vecCol)
    val uMap = updated.toMap
    val minAlign = cents.map { case (id, v) =>
      graft.queries.Similarity.alignE6(v, uMap(id))
    }.min
    DriftGate(minAlign, minAlign < thresholdE6,
      sampledOnly = false, updated)
  }

  /** Top-`nprobe` probe cells per query vector: (q_id, q_emb, q_cell).
    * nprobe=1 degenerates to the argmax cell (single-probe IVF). */
  def ivfProbeCells(queries: DataFrame, cents: Array[(Long, Array[Float])],
                    nprobe: Int, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    withCents(queries, cents)
      .withColumn("__ranked",
        reverse(array_sort(array(cellStructs(cents, vecCol)
          .toIndexedSeq: _*))))
      .select(col(idCol).as("q_id"), col(vecCol).as("q_emb"),
        explode(expr(s"slice(__ranked, 1, $nprobe)")).as("__pc"))
      .select(col("q_id"), col("q_emb"), (-col("__pc.nid")).as("q_cell"))

  /** BUILD-once face: assign every corpus vector to its cell and
    * persist the assignment as a `cell`-bucketed+sorted table. The
    * assignment pass — the per-vector centroid argmax a probe would
    * otherwise recompute — is pre-paid exactly once; every later probe
    * batch reads the table with bucket pruning on its probe cells and
    * joins with NO exchange on the corpus side. The production ANN
    * pattern: index build amortized over many query batches. */
  def buildIvfIndex(s: SparkSession, corpus: DataFrame,
                    cents: Array[(Long, Array[Float])], table: String,
                    nBuckets: Int, idCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit = {
    Partitioning.writeBucketed(
      ivfAssign(corpus, cents, idCol, vecCol), table, "cell", nBuckets)
    // a rebuild under an existing name must not inherit the previous
    // index's deferred deletes: a surviving __tombstones sibling
    // would anti-join fresh vectors with recycled ids out of every
    // probe forever (the lexical twin writeIndexTables drops its
    // deltas/marker at fold for the same reason)
    Partitioning.recoverSwap(s, table + "__tombstones")
    s.sql(s"DROP TABLE IF EXISTS ${table}__tombstones")
    writeIvfScalars(s, table, s.table(table).count())
  }

  /** Maintained physical row count of an index table, kept in the
    * 1-row `<table>__scalars` sibling (the `Lexical` `_scalars`
    * pattern) so the compaction gate in [[tombstoneIvfVectors]] never
    * pays a full-table aggregate per takedown batch (r15 verdict #3 /
    * next-round #5). Lifecycle: build/compact RE-DERIVE it from the
    * just-installed table (a pure function of the install, so a crash
    * anywhere re-converges on re-run); append ADDS the batch count (a
    * crash between the data append and the scalar install leaves an
    * UNDERcount — the gate then trips a batch early, which only
    * schedules the rewrite sooner; the next compaction recount heals
    * the drift exactly). */
  private def writeIvfScalars(s: SparkSession, table: String,
                              n: Long): Unit = {
    import s.implicits._
    Partitioning.replaceTable(s, table + "__scalars",
      Seq(n).toDF("n_rows"))
  }

  /** The maintained row count, if the scalars sibling exists — a
    * 1-row planning-class read. None for a table built before the
    * scalars pattern (or by a raw [[Partitioning.writeBucketed]]). */
  private def readIvfScalars(s: SparkSession, table: String)
      : Option[Long] = {
    val sc = table + "__scalars"
    Partitioning.recoverSwap(s, sc)
    if (s.catalog.tableExists(sc))
      Some(s.table(sc).select("n_rows").collect()(0).getLong(0))
    else None
  }

  /** APPEND face of the build-once index — the daily-crawl
    * maintenance path [[buildIvfIndex]] lacks: assign a NEW batch to
    * the EXISTING serving centroids (the same narrow argmax — no
    * retrain, no Lloyd pass, resident rows untouched) and append the
    * assignment into the bucketed table. Spark bucketed appends add
    * per-job files hashed by the same bucket spec, so probe-side
    * bucket pruning and the exchange-free join are unchanged, and
    * the table after any number of appends probes identically to one
    * built from scratch on the union corpus under the same centroids
    * (SimilaritySpec pins result equality and the pruned plan).
    * Retraining is a separate, gated decision — `ss_ivf_append`
    * reports the per-cell growth and post-append centroid drift that
    * trigger it. */
  def appendIvfIndex(batch: DataFrame,
                     cents: Array[(Long, Array[Float])], table: String,
                     nBuckets: Int, idCol: String = "vec_id",
                     vecCol: String = "embedding"): Unit = {
    // a batch that re-adds a tombstone-deleted id must compact FIRST:
    // clearing the tombstone on append would unmask the id's OLD
    // physical row alongside the fresh one (two live rows per id),
    // and keeping it would mask the fresh row. Compaction physically
    // drops the old rows and the tombstone table, so the append below
    // lands on clean truth. The overlap probe is a tombstone-sized
    // join; the rewrite is paid only by the rare takedown-then-return
    // id — disjoint crawl batches (the common case) skip both.
    val s = batch.sparkSession
    val tomb = table + "__tombstones"
    // converge a tombstone swap that crashed in the unbound-name
    // window BEFORE probing existence: with the tombstones dangling
    // as __stage/__old the exists check would read false, the
    // compact-before-append would be skipped, and a later reader's
    // recoverSwap would reinstall pending tombstones that then mask
    // both the old and the freshly appended row (ADVICE r15)
    Partitioning.recoverSwap(s, tomb)
    if (s.catalog.tableExists(tomb) &&
        s.table(tomb).join(batch.select(col(idCol)).distinct(),
          Seq(idCol), "left_semi").head(1).nonEmpty)
      compactIvfIndex(s, table, idCol)
    appendAssigned(batch, cents, table, nBuckets, idCol, vecCol)
  }

  /** The UNGUARDED append core — assign + bucketed write + scalars
    * bump, no tombstone probe. Factored so [[appendIvfBatch]] (which
    * runs its own recoverSwap + overlap-compact on a superset of the
    * rows it appends) doesn't pay the identical tombstone scan and
    * semi-join a second time inside [[appendIvfIndex]] per daily
    * batch (r19 review). */
  private def appendAssigned(batch: DataFrame,
                             cents: Array[(Long, Array[Float])],
                             table: String, nBuckets: Int,
                             idCol: String, vecCol: String): Unit = {
    val s = batch.sparkSession
    val nBatch = batch.count() // batch-sized, never the index
    if (nBatch == 0L) return // nothing to assign; don't churn scalars
    ivfAssign(batch, cents, idCol, vecCol)
      .write.mode("append")
      .bucketBy(nBuckets, "cell")
      .sortBy("cell")
      .format("parquet")
      .saveAsTable(table)
    // maintained count += batch; a pre-scalars legacy table pays one
    // catch-up count here instead of per takedown batch
    val prior = readIvfScalars(s, table)
      .getOrElse(s.table(table).count() - nBatch)
    writeIvfScalars(s, table, prior + nBatch)
  }

  /** The maintenance-caller face of [[appendIvfIndex]] — what the
    * `maintain_indexes` job runs per daily batch. Three hazards of
    * composing the re-run idempotence guard by hand die here:
    *
    *  - ORDER: the tombstone-overlap check must run BEFORE the
    *    already-indexed filter. A tombstoned id's PHYSICAL row is
    *    still in the table, so `newKeysOnly` against the raw scan
    *    drops the re-added id from the batch — appendIvfIndex's own
    *    overlap check then never sees it, the tombstone survives, and
    *    the fresh embedding is silently discarded forever (the
    *    lexical twin `Lexical.appendIndexTables` always had this
    *    ordering; this gives the dense side the same one).
    *  - INTRA-BATCH duplicates: at-least-once feeds can repeat an id
    *    WITHIN one batch, where batch-vs-index dedup can't see it —
    *    two live rows per id would each occupy a probe top-k slot.
    *    The feed contract is id-grain, so one row per id survives
    *    (arbitrary among byte-identical redeliveries).
    *  - BUCKET SPEC: from the catalog, never a caller parameter
    *    ([[removeIvfVectors]]'s rationale, applied to the append).
    *
    * Returns the appended row count (feed-sized to compute). */
  def appendIvfBatch(s: SparkSession, table: String, batch: DataFrame,
                     cents: Array[(Long, Array[Float])],
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): Long = {
    val tomb = table + "__tombstones"
    Partitioning.recoverSwap(s, tomb)
    val dedup = batch.dropDuplicates(idCol)
    if (s.catalog.tableExists(tomb) &&
        s.table(tomb).join(dedup.select(col(idCol)),
          Seq(idCol), "left_semi").head(1).nonEmpty)
      compactIvfIndex(s, table, idCol)
    // fresh's lineage embeds the whole-index newKeysOnly probe; the
    // count here, the tombstone-overlap probe, the recount and the
    // write inside appendIvfIndex would re-run it up to four times —
    // persist so the index-side scan is paid ONCE per daily batch
    val fresh = Partitioning.newKeysOnly(dedup,
      Partitioning.bucketed(s, table), idCol).persist()
    try {
      val n = fresh.count()
      // the unguarded core: this face already ran recoverSwap and the
      // overlap-compact on dedup ⊇ fresh, so the guarded
      // appendIvfIndex would only repeat the identical tombstone probe
      if (n > 0L)
        appendAssigned(fresh, cents, table,
          Partitioning.bucketSpecOf(s, table).numBuckets, idCol, vecCol)
      n
    } finally fresh.unpersist(blocking = false)
  }

  /** DELETE face of the build-once index — the takedown/re-crawl
    * maintenance path completing the lifecycle trio next to
    * [[buildIvfIndex]]/[[appendIvfIndex]] (and mirroring
    * `Lexical.removeDocs` on the lexical side): drop a vector-id set
    * from the bucketed assignment table. The LOGICAL work is a
    * filter — no centroid argmax recomputes, no Lloyd pass — but
    * plain-parquet bucketed tables have no row-level delete, so the
    * PHYSICAL cost is a rewrite of the surviving rows, installed via
    * [[Partitioning.replaceBucketed]]'s stage-then-swap so the
    * serving table stays intact until the rewrite has committed (a
    * mid-write failure can never destroy the index) and the
    * survivors' read-from-the-target lineage needs no checkpoint. At
    * a scale where the rewrite itself hurts, use
    * [[tombstoneIvfVectors]] — the deletion-vector shape on the same
    * bucket layout (broadcast anti-join tombstones, rewrite deferred
    * to the compaction gate) — this face keeps the SEMANTICS pinned:
    * the table after a delete
    * probes identically to one built from scratch on the remaining
    * corpus under the same centroids (SimilaritySpec). The bucket
    * spec comes from the CATALOG, not a parameter — a delete never
    * legitimately re-buckets, and a caller-supplied count that
    * disagreed with the table would silently do exactly that. Ids
    * absent from the table are no-ops. */
  def removeIvfVectors(s: SparkSession, table: String, ids: DataFrame,
                       idCol: String = "vec_id"): Unit = {
    val spec = Partitioning.bucketSpecOf(s, table)
    val rm = ids.select(col(idCol)).distinct()
    // broadcast the delete-id side (the liveIndex idiom): a caller
    // frame with no size stats defaults to Long.MaxValue sizeInBytes
    // and would plan a sort-merge anti-join shuffling the whole index
    // by id before the rewrite (r19 review)
    val kept =
      Partitioning.bucketed(s, table)
        .join(broadcast(rm), Seq(idCol), "left_anti")
    Partitioning.replaceBucketed(s, table, kept,
      spec.bucketColumnNames.head, spec.numBuckets)
    // re-derive the maintained count from the install (exact resync —
    // heals any append-crash undercount); the count rides the rewrite
    // this method already paid, never a standalone full scan
    writeIvfScalars(s, table, s.table(table).count())
  }

  /** DEFERRED delete — the shape [[removeIvfVectors]]'s scaladoc
    * names as the 100 TB escape (r14 verdict "What's missing" #2): a
    * daily takedown batch must not pay a full-table rewrite, so the
    * ids land in a small tombstone table `<table>__tombstones`
    * (one atomic [[Partitioning.replaceTable]] swap) and every probe
    * subtracts them with a BROADCAST anti-join — zero added exchange
    * on the index side, cost proportional to the tombstone count.
    * The physical rewrite runs only when the COMPACTION GATE trips:
    * tombstones ≥ min(compactFraction · table rows, maxTombstones) —
    * the row cap bounds the broadcast (ids are one long each; the
    * default 1M ≈ 8 MB) independently of corpus size, so the
    * anti-join stays a broadcast even when fraction·N grows past it.
    * This is the deletion-vector pattern of lake formats, expressed
    * on plain bucketed parquet; probe parity of the tombstoned vs
    * physically-rewritten table is pinned in SimilaritySpec, as is
    * the gate's trigger. Ids not present in the index are dropped
    * before they can inflate the gate. Returns true when compaction
    * ran. A crash between the rewrite and the tombstone-table drop
    * is benign: tombstones naming already-absent rows anti-join to
    * nothing. */
  def tombstoneIvfVectors(s: SparkSession, table: String, ids: DataFrame,
                          idCol: String = "vec_id",
                          compactFraction: Double = 0.05,
                          maxTombstones: Long = 1000000L): Boolean = {
    val tomb = table + "__tombstones"
    // converge a prior tombstone-batch swap that crashed in the
    // unbound-name window BEFORE the exists-gated merge below:
    // otherwise merged = inIndex (new batch only) and replaceTable's
    // own recovery would install the surviving tombstones just to
    // overwrite them with the batch — silently resurrecting every
    // previously deleted vector (ADVICE r15)
    Partitioning.recoverSwap(s, tomb)
    // membership in the index-never-shuffles shape — see
    // [[Partitioning.keysInBig]]: the naive `ids ⋉ index` would
    // shuffle the whole table per takedown batch
    val inIndex = Partitioning.keysInBig(ids,
      Partitioning.bucketed(s, table), idCol)
    val merged =
      if (s.catalog.tableExists(tomb))
        s.table(tomb).unionByName(inIndex).distinct()
      else inIndex
    Partitioning.replaceTable(s, tomb, merged)
    val nTomb = s.table(tomb).count()
    // gate sizing from the MAINTAINED 1-row scalars, never a
    // full-table aggregate per takedown batch (r15 verdict): at 100 TB
    // counting the base table per delete batch is a full-scan-class
    // job run just to size a threshold. Legacy tables (no scalars yet)
    // pay the count ONCE and install it.
    val nBase = readIvfScalars(s, table).getOrElse {
      val n = Partitioning.bucketed(s, table).count()
      writeIvfScalars(s, table, n)
      n
    }
    val threshold = math.max(1L,
      math.min((compactFraction * nBase).toLong, maxTombstones))
    if (nTomb >= threshold) { compactIvfIndex(s, table, idCol); true }
    else false
  }

  /** Fold the tombstone table into the physical index: one
    * [[removeIvfVectors]] rewrite of the survivors, then the
    * tombstone table drops. Idempotent/convergent: re-running after
    * a crash at any instant re-derives the same survivors (ids
    * already physically absent anti-join to nothing). */
  def compactIvfIndex(s: SparkSession, table: String,
                      idCol: String = "vec_id"): Unit = {
    val tomb = table + "__tombstones"
    Partitioning.recoverSwap(s, tomb)
    if (!s.catalog.tableExists(tomb)) return
    removeIvfVectors(s, table, s.table(tomb), idCol)
    s.sql(s"DROP TABLE IF EXISTS $tomb")
  }

  /** RETRAIN the serving index in place — the certified consequence
    * of the drift gate `ss_ivf_append` reports (r15 verdict "What's
    * missing" #2): resume Lloyd from the SERVING centroids over the
    * LIVE index vectors (`steps` passes of [[ivfCentroidsFrom]] — no
    * re-seeding, so training cost is the gate's own Lloyd-pass cost
    * class, and the refreshed cells keep their serving ids), then
    * rebuild the assignment table under the refreshed centroids via
    * ONE staged rewrite — the compaction gate's cost class, and it
    * FOLDS any pending tombstones for free (the rebuild reads the
    * live view, so the tombstone table drops). Returns the refreshed
    * centroid set for the caller to persist next to the table (the
    * `maintain_indexes` job keeps them in a k-row catalog table).
    * SimilaritySpec pins the end-to-end consequence: when the gate
    * fires on a drifted append, the retrained index's recall@k is ≥
    * the stale-centroid index's on the same appended corpus. */
  def retrainIvfIndex(s: SparkSession, table: String,
                      cents: Array[(Long, Array[Float])],
                      steps: Int = 1, idCol: String = "vec_id",
                      vecCol: String = "embedding")
      : Array[(Long, Array[Float])] = {
    val live = liveIndex(s, table, Partitioning.bucketed(s, table), idCol)
      .select(col(idCol), col(vecCol))
    val updated = ivfCentroidsFrom(s, live, cents, steps, idCol, vecCol)
    rebuildIvfAssignments(s, table, updated, idCol, vecCol)
    updated
  }

  /** The rebuild half of [[retrainIvfIndex]], callable with centroids
    * the caller already has: re-assign the LIVE view under `cents`
    * and install via one staged swap, folding pending tombstones
    * (the rebuild reads the live view, so the tombstone table drops).
    * The `maintain_indexes` job calls this with the drift gate's own
    * one-step Lloyd result — the gate already paid that full-corpus
    * pass to measure alignment, so retraining must not pay it twice.
    * Idempotent: a re-run under the same centroids re-derives the
    * same table. */
  def rebuildIvfAssignments(s: SparkSession, table: String,
                            cents: Array[(Long, Array[Float])],
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): Unit = {
    val live = liveIndex(s, table, Partitioning.bucketed(s, table), idCol)
      .select(col(idCol), col(vecCol))
    val spec = Partitioning.bucketSpecOf(s, table)
    Partitioning.replaceBucketed(s, table,
      ivfAssign(live, cents, idCol, vecCol),
      spec.bucketColumnNames.head, spec.numBuckets)
    writeIvfScalars(s, table, s.table(table).count())
    s.sql(s"DROP TABLE IF EXISTS ${table}__tombstones")
  }

  /** Public live-corpus view of a serving index — (idCol, vecCol)
    * rows of the physical table minus pending tombstones: what the
    * drift gate trains its one-step Lloyd update over (the
    * `maintain_indexes` job's retrain-gate input). */
  def liveIvfVectors(s: SparkSession, table: String,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame =
    liveIndex(s, table, Partitioning.bucketed(s, table), idCol)
      .select(col(idCol), col(vecCol))

  /** The live view of an index table: scan minus tombstones. The
    * anti-join side is broadcast — bounded by the compaction gate's
    * row cap — so the index side's pruned, exchange-free plan shape
    * survives deferred deletes. */
  private def liveIndex(s: SparkSession, table: String,
                        df: DataFrame, idCol: String): DataFrame = {
    val tomb = table + "__tombstones"
    Partitioning.recoverSwap(s, tomb)
    if (s.catalog.tableExists(tomb))
      df.join(broadcast(s.table(tomb).select(idCol)),
        Seq(idCol), "left_anti")
    else df
  }

  /** PROBE-many face against a prebuilt index table: the probe-cell
    * list (k·nprobe values, driver-known) lands on the scan as an IN
    * filter, so Spark prunes to the matching buckets; the query batch
    * broadcasts; scoring + top-k rank are the only remaining work.
    * The corpus side plans scan → filter → broadcast-join with no
    * Exchange (pinned in SimilaritySpec). Deferred-deleted ids
    * ([[tombstoneIvfVectors]]) are subtracted here via the broadcast
    * anti-join in [[liveIndex]]. */
  def probeIvfIndex(s: SparkSession, table: String, queries: DataFrame,
                    k: Int, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val cells = queries.select("q_cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val base = Partitioning.bucketed(s, table)
      .filter(col("cell").isin(cells.toIndexedSeq: _*))
    val scored = liveIndex(s, table, base, idCol)
      .join(broadcast(queries),
        col("cell") === col("q_cell") && col(idCol) =!= col("q_id"))
      .withColumn("cosine", VectorFns.cosineNative(s, "q_emb", vecCol))
    rank(scored, k, idCol)
  }

  // ------------------------------------------------------------------
  // PQ: product quantization — the memory-compression side of ANN.
  // The embedding splits into `m` equal subspaces, each trains its
  // own small codebook with the SAME seed + integer-scaled Lloyd
  // machinery as IVF, and a vector is stored as m small codes: at
  // m=2/ksub=4 a 64-dim float vector (256 B) becomes 2 codes + a
  // shared codebook — the technique that fits 100 TB of embeddings
  // in executor memory. Search scores queries against per-code
  // RECONSTRUCTIONS (asymmetric distance: the query stays exact).
  // ------------------------------------------------------------------

  /** Per-subspace codebooks, bit-identical to running `ivfCentroids`
    * over each slice of the corpus (id-ordered seeds per subspace,
    * integer-scaled Lloyd sums — an oracle replays training), but
    * FUSED across subspaces (r20): training ran 2m sequential driver
    * jobs (a seed collect plus a Lloyd-pass collect per subspace) for
    * work that is per-row independent. One collect of the first-ksub
    * FULL vectors slices into all m seed sets driver-side (slicing
    * commutes with collect), and each refinement step runs every
    * subspace's assignment + (cell, idx) sums in ONE corpus pass
    * grouped by (subspace, cell, idx) — 1 + steps driver jobs total.
    * The per-group arithmetic is exactly [[lloydPass]]'s: same
    * literal-centroid argmax per slice, same rounded LloydScale sums,
    * same empty-cell keep-previous fallback as [[ivfCentroidsFrom]]. */
  def pqCodebooks(s: SparkSession, corpus: DataFrame, m: Int, ksub: Int,
                  dims: Int, steps: Int = 1, idCol: String = "vec_id",
                  vecCol: String = "embedding")
      : Array[Array[(Long, Array[Float])]] = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val sub = dims / m
    val seedRows = corpus.filter(col(idCol) < ksub)
      .select(col(idCol), col(vecCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    var books: Array[Array[(Long, Array[Float])]] = Array.tabulate(m)(j =>
      seedRows.map { case (id, v) =>
        (id, v.slice(j * sub, (j + 1) * sub)) })
    for (_ <- 1 to steps) {
      var df = corpus
      val branches = (0 until m).map { j =>
        val sCol = s"__sub$j"
        val prefix = s"__pq${j}_"
        df = df.withColumn(sCol,
          expr(s"slice($vecCol, ${j * sub + 1}, $sub)"))
        df = withCents(df, books(j), prefix)
        df = df.withColumn(s"__cell$j",
          -array_max(array(cellStructs(books(j), sCol, prefix)
            .toIndexedSeq: _*))("nid"))
        struct(lit(j).as("j"), col(s"__cell$j").as("cell"),
          col(sCol).as("v"))
      }
      val sums = df
        .select(explode(array(branches: _*)).as("__sc"))
        .select(col("__sc.j").as("j"), col("__sc.cell").as("cell"),
          posexplode(col("__sc.v")).as(Seq("idx", "x")))
        .groupBy("j", "cell", "idx")
        .agg(sum(round(col("x").cast("double") * LloydScale).cast("long"))
          .as("s"), count(lit(1)).as("n"))
        .collect()
      val byJ = sums.groupBy(_.getInt(0))
      books = Array.tabulate(m) { j =>
        val byCell = byJ
          .getOrElse(j, Array.empty[org.apache.spark.sql.Row])
          .groupBy(_.getLong(1))
        books(j).map { case (cId, v) =>
          (cId, byCell.get(cId)
            .map(_.sortBy(_.getInt(2))
              .map(r => ((r.getLong(3).toDouble / r.getLong(4))
                / LloydScale).toFloat))
            .getOrElse(v))
        }
      }
    }
    books
  }

  /** Narrow PQ encode: one argmax-cosine code per subspace — no join,
    * no shuffle, mirroring [[ivfAssign]]. Output:
    * (idCol, code_0 … code_{m−1}) — the compressed corpus. */
  def pqEncode(corpus: DataFrame, books: Array[Array[(Long, Array[Float])]],
               dims: Int, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val m = books.length
    require(m > 0, "pqEncode: at least one codebook required")
    // same divisibility guard as pqCodebooks: books trained elsewhere
    // (or a wrong dims argument) would otherwise silently drop the
    // trailing dims % m dimensions from every code (r19 review)
    require(dims % m == 0, s"pqEncode: dims=$dims not divisible by m=$m")
    val sub = dims / m
    var df = corpus
    val codeCols = (0 until m).map { j =>
      val sCol = s"__sub$j"
      val prefix = s"__pq${j}_"
      df = df.withColumn(sCol,
        expr(s"slice($vecCol, ${j * sub + 1}, $sub)"))
      df = withCents(df, books(j), prefix)
      df = df.withColumn(s"code_$j",
        -array_max(array(cellStructs(books(j), sCol, prefix)
          .toIndexedSeq: _*))("nid"))
      col(s"code_$j")
    }
    df.select(col(idCol) +: codeCols: _*)
  }

  /** Decompress: every code looks up its centroid in a literal map and
    * the sub-reconstructions concatenate back to a full-width vector —
    * the asymmetric-distance scoring input. Narrow (the codebook is
    * m·ksub literals, never a join). */
  def pqReconstruct(encoded: DataFrame,
                    books: Array[Array[(Long, Array[Float])]]): DataFrame = {
    val lookups = books.zipWithIndex.map { case (book, j) =>
      element_at(
        typedLit(book.map { case (cId, v) => cId -> v.toSeq }.toMap),
        col(s"code_$j"))
    }
    encoded.withColumn("recon", concat(lookups.toIndexedSeq: _*))
  }

  /** SRP-bucketed approximate top-k: corpus and queries bucketed by
    * `nPlanes` sign-projection bits (operators.Srp — a narrow map);
    * probes score same-bucket vectors only. */
  def topkSrp(s: SparkSession, corpus: DataFrame, queryIds: DataFrame,
              k: Int, nPlanes: Int, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    // bucketed feeds both the query lookup and the probe join —
    // persisted lazily (the result-materializing job fills the cache in
    // passing; no eager extra pass), released as soon as the (k·|Q|)-row
    // result is itself materialized (CacheScope.eval) so no blocks
    // outlive the call
    val bucketed =
      Srp.withBucket(s, corpus, nPlanes, vecCol = vecCol).persist()
    // broadcast the query-id side: the batch contract is small, but
    // without the hint a stats-less caller frame can plan a sort-merge
    // join shuffling the whole bucketed corpus by id (r19 review)
    val queries = bucketed.join(broadcast(queryIds), idCol)
      .select(col(idCol).as("q_id"), col("bucket").as("q_bucket"),
        col(vecCol).as("q_emb"))
    CacheScope.eval(rank(
      bucketed.join(broadcast(queries),
          col("bucket") === col("q_bucket") && col(idCol) =!= col("q_id"))
        .withColumn("cosine", VectorFns.cosineNative(s, "q_emb", vecCol)),
      k, idCol))(bucketed)
  }

  /** Multi-table SRP top-k — the standard recall fix for oblivious
    * hyperplane buckets: `nTables` independent hash tables of
    * `nPlanes` bits each (one 16-bit bucket string, banded 4×4 — the
    * LSH banding trick on sign bits), a vector is a candidate if it
    * collides with the query in ANY table. Recall rises steeply with
    * tables (1-(1-p^b)^L) while probe cost stays Σ bucket-sized;
    * candidates hit in several tables are deduped BEFORE ranking by a
    * (q_id, id) groupBy over identical cosines — max() of equal
    * doubles, engine-replayable. Same narrow bucketing map as
    * single-table SRP: nTables·nPlanes literal coefficient vectors,
    * zero shuffle to fingerprint. */
  def topkSrpMulti(s: SparkSession, corpus: DataFrame,
                   queryIds: DataFrame, k: Int, nPlanes: Int = 4,
                   nTables: Int = 4, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val bucketed = Srp.withBucket(s, corpus, nPlanes * nTables,
      vecCol = vecCol).persist()
    val bands = bucketed.select(col(idCol), col(vecCol),
      posexplode(array((0 until nTables).map(t =>
        substring(col("bucket"), t * nPlanes + 1, nPlanes)): _*))
        .as(Seq("tbl", "bkey")))
    // same broadcast rationale as topkSrp's lookup — here the
    // un-hinted shuffle would move the nTables-times-exploded corpus
    val queries = bands.join(broadcast(queryIds), idCol)
      .select(col(idCol).as("q_id"), col("tbl").as("q_tbl"),
        col("bkey").as("q_bkey"), col(vecCol).as("q_emb"))
    val scored = bands
      .join(broadcast(queries),
        col("tbl") === col("q_tbl") && col("bkey") === col("q_bkey") &&
          col(idCol) =!= col("q_id"))
      .withColumn("cosine", VectorFns.cosineNative(s, "q_emb", vecCol))
      .groupBy("q_id", idCol)
      .agg(max(col("cosine")).as("cosine")) // dedupe multi-table hits
    CacheScope.eval(rank(scored, k, idCol))(bucketed)
  }
}
