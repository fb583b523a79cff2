package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.sources.Tables

/** Job layer — SURVEY.md §2.1 S8 + §3: the reference's three entry
  * points (`JOB` env selects `upload_advisors`, `upload_recent_refresh`,
  * `upload_snapshot`; jonesy.py:13-16, jonesy/jobs.py:28-65), each a
  * pipeline of (query → sink) pairs over the shared catalog.
  *
  * The refresh and snapshot jobs are TERM-PARAMETERIZED: the reference
  * loops `for term_id in self.get_current_term_ids()` and writes one
  * key per (extract, term) — `…/courses/courses-{term_id}.gz`
  * (jonesy/jobs.py:41-62). Here the same shape: current terms are
  * resolved once per run by collecting the `ref_current_terms` result
  * (≤3 rows — planning-class driver work, the reference does the same
  * round-trip in get_current_term_ids, jobs.py:71-74). Each per-term
  * extract FAMILY then runs as one Spark plan over all current terms:
  * the OR of the terms' month bounds is pushed to the parquet scan as
  * range predicates, a routing column ([[TermColumn]]) carries each
  * row's term, and the sink routes the rows to the per-term keys
  * ([[Sinks.fanOutRouted]]). Where the reference sends one query per
  * (extract, term), this sends one per extract; the landed bytes per
  * key are those of the single-term extract.
  *
  * Unknown job → message and no-op, not an exception
  * (reference: jonesy/jobs.py:64-65 semantics preserved).
  */
object Jobs {

  /** A term-parameterized extract: (spark, dataDir, termId "yyyyMM"). */
  type TermQuery = (SparkSession, String, String) => DataFrame

  /** A term-parameterized extract family over several terms: (spark,
    * dataDir, termIds "yyyyMM"), each row carrying its term in
    * [[TermColumn]]. */
  type TermsQuery = (SparkSession, String, Seq[String]) => DataFrame

  /** Flat (term-independent) queries per job, as (catalog query,
    * reference extract name) — the extract name is the reference's
    * spelling that lands in the upload key. Mirrors §3: advisors = the
    * advisor projections + greatest-per-group relationship extract
    * (jobs.py:30-38); snapshot additionally uploads the full
    * basic-attributes extract before its per-term loop (jobs.py:51-54). */
  val pipelines: Map[String, Seq[(String, String)]] = Map(
    "upload_advisors" -> Seq(
      "ref_advisor_notes" -> "advisor-note-permissions",
      // The same-shape certified port of
      // get_instructor_advisor_relationships (queries.py:70-95) —
      // triple filter + 13-col DISTINCT + greatest-per-group on the
      // effective-date analogue. r17 and earlier uploaded the J3
      // analogue face ref_latest_order_per_customer here; as of r18
      // the job uploads the exact composed plan CORRECTNESS certifies.
      "ref_instructor_advisor" -> "instructor-advisor-map"),
    "upload_recent_refresh" -> Seq.empty,
    "upload_snapshot" -> Seq("ref_basic_attributes" -> "basic-attributes"),
    // Extension job (no reference counterpart): the training-data
    // curation run packaged through the SAME dispatch → extract →
    // fan-out machinery as the reference jobs — the full certified
    // pipeline's shard map, the per-source duplicate-rate health
    // report, the leakage-safe train/val/test split map, and the
    // PII-scrubbed corpus with audit counts. One JOB=curate_corpus
    // spark-submit produces everything a downstream trainer ingests.
    "curate_corpus" -> Seq(
      "dd_curation_pipeline" -> "curated-shards",
      "dd_dup_rate_by_source" -> "dedup-health",
      "dd_ngram_dup_rate" -> "memorization-risk",
      "dd_repeated_spans" -> "repeated-span-report",
      "dd_span_scrub" -> "span-scrubbed-corpus",
      "dd_containment" -> "partial-dup-report",
      "dd_contamination_rate" -> "contamination-report",
      "dd_leakage_safe_split" -> "split-map",
      "ta_heavy_hitters" -> "token-health",
      "ta_quality_calibrate" -> "quality-calibration",
      "ta_pii_redact" -> "pii-scrubbed-corpus",
      // round-11 signals: embedding-space dedup map (SemDeDup),
      // sub-document chunk duplication, LSH tuning health, and the
      // two model-based quality scores (classifier logits, LM
      // surprisal) — the complete curation evidence pack
      "dd_semantic_dedup" -> "semantic-dedup-map",
      "dd_cdc_chunk_dup" -> "chunk-dup-report",
      "dd_lsh_bucket_stats" -> "lsh-bucket-health",
      "ta_classifier_score" -> "classifier-verdicts",
      "ta_unigram_surprisal" -> "lm-surprisal",
      // round-12 signals: the pre-content URL dedup report, the
      // banding recall/precision certification, and the per-language
      // tokenizer-fertility budget — the remaining evidence a
      // curation review reads before trusting the shard map
      "dd_url_dedup" -> "url-dedup-report",
      "dd_lsh_recall" -> "lsh-recall-certification",
      "ta_bpe_fertility" -> "tokenizer-fertility"),
    // Extension job (r12 second pass): the RELEASE evidence pack —
    // the artifacts a corpus release ships NEXT TO the data: the
    // per-source datasheet, the distribution-drift QA, the mixing
    // budgets plus the loader consumption order that realizes them,
    // the learned tokenizer merges, and both privacy audits. One
    // JOB=release_corpus run turns a curated corpus into a
    // publishable dataset.
    "release_corpus" -> Seq(
      "ta_dataset_card" -> "dataset-card",
      "ta_quality_drift" -> "quality-drift",
      "ta_unimax_mix" -> "mix-budgets",
      "ta_mix_schedule" -> "consumption-schedule",
      "ta_bpe_train" -> "learned-merges",
      "rel_k_anonymity" -> "k-anonymity-audit",
      "rel_l_diversity" -> "l-diversity-audit",
      "rel_t_closeness" -> "t-closeness-audit"),
    // Extension job (r16): the serving-index maintenance run — the
    // cron entry that keeps BOTH retrieval indexes (IVF vector, BM25
    // lexical) serving as the corpus changes: daily batch append →
    // takedown tombstones → compaction/retrain gates (the actual
    // table maintenance runs as this job's PRE-step, `preSteps`
    // below; these extracts are the evidence pack that ships with
    // it — the same append/takedown report faces the catalog
    // certifies).
    "maintain_indexes" -> Seq(
      "ss_ivf_append" -> "ivf-append-report",
      "ss_bm25_append" -> "bm25-append-report",
      "ss_bm25_remove" -> "bm25-takedown-report"),
    // Extension job: the event-analytics pack — the interval sweeps,
    // robustified measures, and resampled series a metrics warehouse
    // serves, through the same dispatch machinery.
    "event_analytics" -> Seq(
      "ev_attribution_linear" -> "attribution-linear",
      "ev_concurrency" -> "peak-concurrency",
      "ev_interval_coverage" -> "active-time",
      "ev_anomaly" -> "anomaly-flags",
      "ev_winsorize" -> "winsorized-values",
      "ev_resample" -> "hourly-series",
      "ev_rfm" -> "rfm-segments",
      "ev_seasonality" -> "hourly-seasonality"))

  /** Per-term extract families per job as (key directory, key file
    * base, builder over all terms). Directory and file base differ for
    * the refresh groups — underscore dirs, dash files, matching
    * jobs.py:44,48 — and agree for the snapshot groups (jobs.py:58,62).
    * [[run]] builds each family once for all current terms. */
  val termFamilies: Map[String, Seq[(String, String, TermsQuery)]] = Map(
    "upload_recent_refresh" -> Seq(
      ("instructor_updates", "instructor-updates",
        (s, d, ts) => recentInstructorUpdatesForTerms(s, d, ts)),
      ("enrollment_updates", "enrollment-updates",
        (s, d, ts) => recentEnrollmentUpdatesForTerms(s, d, ts))),
    "upload_snapshot" -> Seq(
      ("courses", "courses", termCoursesForTerms _),
      ("enrollments", "enrollments", termEnrollmentsForTerms _)))

  /** [[termFamilies]] one term at a time, as (key directory, key file
    * base, single-term extract): the extract a per-term loop lands at
    * `termKey(…, termId)`. */
  val perTermPipelines: Map[String, Seq[(String, String, TermQuery)]] =
    termFamilies.map { case (job, families) =>
      job -> families.map { case (dir, file, q) =>
        (dir, file, ((s, d, t) => q(s, d, Seq(t)).drop(TermColumn)): TermQuery)
      }
    }

  // ------------------------------------------------------------------
  // Serving-index maintenance (JOB=maintain_indexes) — the composed
  // daily run the lifecycle operators exist for: bootstrap-or-append
  // each serving index, apply the day's takedowns as deferred
  // tombstones, let the compaction gates fold when they trip, and
  // check the IVF retrain gate. The day's batch / takedown sets are
  // the repo's deterministic split idioms (the `dd_incremental` /
  // `ss_ivf_append` convention: id % 7 = 0 is "today's crawl",
  // id % 50 = 0 among residents is "today's takedowns") so the run is
  // replayable against the fixtures; a production deployment swaps
  // those two predicates for its ingest and takedown feeds and
  // nothing else changes.
  // ------------------------------------------------------------------

  /** Serving-table names the maintenance job owns. */
  val IvfServingTable = "ivf_serving_index"
  val IvfServingCentroids = "ivf_serving_centroids"
  val Bm25ServingName = "bm25_serving"

  /** IVF retrain gate: retrain when any cell's serving centroid has
    * drifted below this e6 cosine alignment against its one-step
    * Lloyd update over the live corpus (the `ss_ivf_append` drift
    * measure, given its certified consequence here). */
  val RetrainAlignE6 = 995000L

  /** Denominator of the retrain gate's deterministic md5-residue
    * sample (`Ann.ivfDriftGate`): the no-drift path evaluates drift
    * on ~1/16 of the live index instead of a full-corpus Lloyd pass.
    * On the small test fixtures the per-cell support guard forces the
    * escalation path — sampling pays off exactly where it matters,
    * when cells are large. */
  val RetrainSampleDenom = 16

  private def servingBuckets = 8

  /** Persisted serving centroids: k rows (cell, embedding) installed
    * via the atomic staged swap; the read is a planning-class k-row
    * collect, id-sorted so training replays deterministically. */
  private def saveCentroids(s: SparkSession,
                            cents: Array[(Long, Array[Float])]): Unit = {
    import s.implicits._
    graft.operators.Partitioning.replaceTable(s, IvfServingCentroids,
      cents.toSeq.toDF("cell", "embedding"))
  }

  private def loadCentroids(s: SparkSession)
      : Array[(Long, Array[Float])] = {
    graft.operators.Partitioning.recoverSwap(s, IvfServingCentroids)
    s.table(IvfServingCentroids).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
  }

  /** One maintenance run over both serving indexes. Returns the run
    * log — (index_name, step, n, flag) rows: the step's row/doc/victim
    * count (or the retrain gate's min alignment) and whether the
    * step's gate fired (compaction folded / retrain ran). The log is
    * the job's own extract (`index-maintenance-log` through the gzip
    * fan-out) so the cron evidence pack records what each day's run
    * actually did. Driver round-trips are planning-class (1-row
    * scalar reads, k-row centroid reads); logged sizes come from the
    * maintained scalars tables or the day's takedown FEED (feed-sized
    * counts), never an index-sized aggregate. `flag` means the step's
    * gate fired (compaction folded / retrain ran; for bootstrap, that
    * the build ran).
    *
    * `batchKey` (the dispatch passes the run's ISO date — the cron's
    * daily identity) arms [[Partitioning.deliverOnce]]'s
    * delivery-manifest fast path on the two append steps: a re-run of
    * the SAME day's crashed cron skips each append body on a
    * manifest-row check (`append_skipped` in the log) instead of
    * probing the index, the 100 TB shape `newKeysOnly`'s cap note
    * names; the data-level guard stays underneath as the convergence
    * backstop for the body-committed/key-unrecorded crash window and
    * for callers without a key.
    *
    * The four feed parameters make the section comment's "a
    * production deployment swaps those two predicates for its ingest
    * and takedown feeds" literal: each defaults to the
    * fixture-derived predicate split, and a caller (the drifted-day
    * soak, a real ingest) injects its own day's batch/takedown
    * DataFrames — the gates, guards and logging are identical either
    * way. */
  def maintainServingIndexes(s: SparkSession, sfDir: String,
                             batchKey: Option[String] = None,
                             ivfFeed: Option[DataFrame] = None,
                             ivfTakedownFeed: Option[DataFrame] = None,
                             bm25Feed: Option[DataFrame] = None,
                             bm25TakedownFeed: Option[DataFrame] = None)
      : DataFrame = {
    import graft.operators.{Ann, CacheScope, Lexical, Partitioning}
    val log = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long, Boolean)]

    // injected feeds are evaluated MORE THAN ONCE below (the log's
    // count() plus the append/tombstone actions) — a non-deterministic
    // caller plan (a sampled batch, a now()-anchored filter) could log
    // a different row count than the index actually absorbed.
    // Materialize each provided feed once so every consumer reads the
    // same snapshot; the fixture-derived defaults are deterministic
    // parquet-scan predicates and skip the checkpoint cost. Released
    // at the end of the job — the log rows are collected scalars.
    val feedsM = Seq(ivfFeed, ivfTakedownFeed, bm25Feed,
      bm25TakedownFeed).map(_.map(CacheScope.materialize))
    val Seq(ivfFeedM, ivfTakedownM, bm25FeedM, bm25TakedownM) = feedsM
    // try/finally around the whole job body: a step that throws (an
    // index write failure, a vanished feed source) must still release
    // the checkpoint blocks — a nightly cron failing repeatedly in a
    // long-lived session would otherwise pin them until session end
    try {

    // ---- IVF (dense vectors) ------------------------------------
    val emb = Tables(s, sfDir, "embeddings")
    val resident = emb.filter(col("vec_id") % 7 =!= 0)
    val batch = ivfFeedM.getOrElse(emb.filter(col("vec_id") % 7 === 0))
    def ivfRows: Long = {
      Partitioning.recoverSwap(s, s"${IvfServingTable}__scalars")
      s.table(s"${IvfServingTable}__scalars")
        .select("n_rows").collect()(0).getLong(0)
    }
    // bootstrap gate keyed on the COMPLETE artifact set, not just the
    // index table: a crash between buildIvfIndex's data install and
    // its scalars write (or before saveCentroids) must not wedge
    // every later run on a missing sibling — the bootstrap build is
    // deterministic (seeded centroids) and overwrite-installed, so
    // re-running it converges
    Partitioning.recoverSwap(s, IvfServingTable)
    Partitioning.recoverSwap(s, s"${IvfServingTable}__scalars")
    Partitioning.recoverSwap(s, IvfServingCentroids)
    if (!s.catalog.tableExists(IvfServingTable) ||
        !s.catalog.tableExists(s"${IvfServingTable}__scalars") ||
        !s.catalog.tableExists(IvfServingCentroids)) {
      val cents = Ann.ivfCentroids(s, resident, 10,
        steps = graft.queries.Similarity.IvfSteps)
      Ann.buildIvfIndex(s, resident, cents, IvfServingTable,
        servingBuckets)
      saveCentroids(s, cents)
      log += (("ivf", "bootstrap", ivfRows, true))
    }
    // a retrain that crashed between its centroid install and the
    // assignment rebuild left the two out of step (probes would route
    // cells by centroids the table was never assigned under) — the
    // intent marker the retrain path writes first converges it here
    val retrainMarker = s"${IvfServingTable}__retrain_pending"
    Partitioning.recoverSwap(s, retrainMarker)
    if (s.catalog.tableExists(retrainMarker)) {
      Ann.rebuildIvfAssignments(s, IvfServingTable, loadCentroids(s))
      s.sql(s"DROP TABLE IF EXISTS $retrainMarker")
      log += (("ivf", "retrain_recovered", 0L, true))
    }
    val cents = loadCentroids(s)
    // idempotent daily append via the guarded face: tombstone-overlap
    // compaction BEFORE the already-indexed filter (a tombstoned id's
    // physical row would otherwise hide the re-add from the overlap
    // check), intra-batch id dedup, catalog bucket spec
    // log the guarded face's OWN return — a rows-after-minus-before
    // diff would misreport whenever the append body also compacts
    // (tombstone overlap physically removes rows: the day's 20 adds
    // next to 500 folded tombstones would log as -480) or converges a
    // prior crashed batch (attributing yesterday's docs to today)
    var ivfAdded = 0L
    val ranIvf = Partitioning.deliverOnce(s, IvfServingTable,
      batchKey.map(_ + ":append")) {
      ivfAdded = Ann.appendIvfBatch(s, IvfServingTable, batch, cents)
    }
    log += (("ivf", if (ranIvf) "append" else "append_skipped",
      if (ranIvf) ivfAdded else 0L, false))
    // takedowns from the RESIDENT split only, so a steady-state re-run
    // converges to no-ops instead of re-appending yesterday's victims
    val victims = ivfTakedownM.getOrElse(
      emb.filter(col("vec_id") % 50 === 0 &&
        col("vec_id") % 7 =!= 0).select("vec_id"))
    val folded = Ann.tombstoneIvfVectors(s, IvfServingTable, victims)
    log += (("ivf", "takedown", victims.count(), folded))
    // retrain gate, SAMPLED first (r16 verdict #2): the steady-state
    // no-drift run reads a deterministic md5-residue sample of the
    // live index instead of paying a full-corpus Lloyd pass; only a
    // reading inside the CI band of the threshold (or an
    // under-sampled cell) escalates to the full pass — whose refined
    // centroids then double as the retrain's training result, so a
    // drifted run still pays the corpus exactly once
    val gate = Ann.ivfDriftGate(s, IvfServingTable, cents,
      RetrainAlignE6, sampleDenom = RetrainSampleDenom)
    val minAlign = gate.minAlignE6
    val updated = gate.updated
    val drifted = gate.drifted
    log += (("ivf", "retrain_gate_sampled",
      if (gate.sampledOnly) 1L else 0L, gate.sampledOnly))
    if (drifted) {
      // the gate's own one-step Lloyd result IS the retrained centroid
      // set (retrainIvfIndex would recompute the identical pass —
      // a second full-corpus job for nothing). The two installs can't
      // swap atomically, so the intent marker lands first: a crash
      // anywhere in between re-runs the assignment rebuild from the
      // PERSISTED centroids on the next run (recovery above), and a
      // crash before saveCentroids rebuilds under the old centroids —
      // a semantic no-op. Marker drops only after both committed.
      import s.implicits._
      Partitioning.replaceTable(s, retrainMarker,
        Seq(1).toDF("pending"))
      saveCentroids(s, updated)
      Ann.rebuildIvfAssignments(s, IvfServingTable, updated)
      s.sql(s"DROP TABLE IF EXISTS $retrainMarker")
    }
    log += (("ivf", "retrain_gate", minAlign, drifted))

    // ---- BM25 (lexical) ------------------------------------------
    val docs = Tables(s, sfDir, "documents")
    val dResident = docs.filter(col("doc_id") % 7 =!= 0)
    val dBatch = bm25FeedM.getOrElse(docs.filter(col("doc_id") % 7 === 0))
    // SERVED doc count — base scalars plus pending delta adjustments
    // (the append path records batch adds in the delta table instead
    // of rewriting the scalars; readIndexTables folds both signs).
    // NOTE: this is a READ — it does NOT converge a crashed append's
    // pending marker (writer-only contract, see finishPendingAppend);
    // a pending batch's docs are invisible here until this job's own
    // append/delete/compact step converges the marker, which is the
    // consistent pre-append view the gate should count anyway.
    def bm25Docs: Long =
      Lexical.readIndexTables(s, Bm25ServingName).nDocs
    // same artifact-complete gate as the IVF side: a crash inside
    // writeIndexTables (postings installed, vocab/doclen/scalars not
    // yet) must re-run the bootstrap, not wedge on a missing sibling;
    // the rebuild is a deterministic staged-swap overwrite, so the
    // re-run converges
    val bundleTables = Seq("postings", "vocab", "doclen", "scalars")
      .map(t => s"${Bm25ServingName}_$t")
    bundleTables.foreach(Partitioning.recoverSwap(s, _))
    if (!bundleTables.forall(s.catalog.tableExists)) {
      Lexical.writeIndexTables(Lexical.buildIndex(dResident),
        Bm25ServingName, servingBuckets)
      log += (("bm25", "bootstrap", bm25Docs, true))
    }
    // a previous run that died INSIDE a writeIndexTables fold
    // (postings swapped + fold-pending marker installed, derive
    // incomplete) left a mixed-generation bundle that readers have
    // been serving via the postings-truth fallback. The append below
    // would converge it silently as its first step; converge it HERE
    // with its own log row instead, so the run log records that the
    // cron healed a crashed fold rather than hiding it inside the
    // append step (the IVF side's retrain_recovered stance).
    if (Lexical.recoverPendingFold(s, Bm25ServingName))
      log += (("bm25", "fold_recovered", bm25Docs, true))
    // same stance as the IVF side: log the append's OWN fresh-doc
    // return — a served-docs diff would attribute a converged prior
    // crashed batch's docs to today's run
    var bm25Added = 0L
    val ranBm25 = Partitioning.deliverOnce(s, Bm25ServingName,
      batchKey.map(_ + ":append")) {
      bm25Added = Lexical.appendIndexTables(s, Bm25ServingName, dBatch)
    }
    log += (("bm25", if (ranBm25) "append" else "append_skipped",
      if (ranBm25) bm25Added else 0L, false))
    val dVictims = bm25TakedownM.getOrElse(
      docs.filter(col("doc_id") % 50 === 0 &&
        col("doc_id") % 7 =!= 0).select("doc_id"))
    val dFolded = Lexical.removeDocsDeferred(s, Bm25ServingName, dVictims)
    log += (("bm25", "takedown", dVictims.count(), dFolded))

    import s.implicits._
    log.toSeq.toDF("index_name", "step", "n", "flag")
      .orderBy("index_name", "step")
    // every consumer of the injected feeds has executed by here (the
    // returned log frame is built from collected scalars, not feeds)
    } finally feedsM.flatten.foreach(CacheScope.releaseCheckpoint)
  }

  /** Job-level PRE-compositions: table maintenance that must run
    * BEFORE the job's report pipeline, its run log fanned out under
    * its own extract key like any other extract. The third argument
    * is the run's ISO date — the daily batch identity that arms the
    * delivery-manifest fast path. */
  val preSteps
      : Map[String, (String, (SparkSession, String, String) => DataFrame)] =
    Map("maintain_indexes" ->
      (("index-maintenance-log",
        (s, d, date) => maintainServingIndexes(s, d, Some(date)))))

  /** Current term ids as yyyyMM, from the catalog's current-term
    * resolution query (reference: jobs.py:71-74). The collect is ≤3
    * rows by construction (`ref_current_terms` is LIMIT 3). */
  def currentTermIds(spark: SparkSession, sfDir: String): Seq[String] =
    SparkEntry.queries("ref_current_terms")(spark, sfDir)
      .select(date_format(col("term_begin"), "yyyyMM").as("term_id"))
      .collect().map(_.getString(0)).toSeq

  /** The routing column of the per-term family builders: the row's
    * yyyyMM term, which [[Sinks.fanOutRouted]] maps to the term's key
    * and does not write. */
  val TermColumn = "__term"

  /** `c` in any of the terms' [start, end) months — an OR of literal
    * timestamp ranges, so the term filter reaches the parquet scan as
    * pushable range predicates instead of a date_trunc expression. */
  private def inTerms(c: Column, terms: Seq[String]): Column = {
    require(terms.nonEmpty, "no terms")
    terms.map { termId =>
      val ym = java.time.YearMonth.parse(termId,
        java.time.format.DateTimeFormatter.ofPattern("yyyyMM"))
      c >= lit(ym.atDay(1).toString).cast("timestamp") &&
        c < lit(ym.plusMonths(1).atDay(1).toString).cast("timestamp")
    }.reduce(_ || _)
  }

  /** `df` with the routing column copied from its `term_id`. Added after
    * the DISTINCT, so the DISTINCT's hash partitioning, and with it the
    * landed order of rows tied on every ORDER BY key, stays that of the
    * reference columns alone. */
  private def routedByTermId(df: DataFrame): DataFrame =
    df.withColumn(TermColumn, col("term_id"))

  /** Snapshot per-term enrollments — the reference's FULL-WIDTH
    * projection (reference get_term_enrollments, queries.py:294-307:
    * 13 DISTINCT columns — section/term/session ids, uid + TO_CHAR'd
    * sis id, enrollment status, waitlist position, units, grade,
    * grade points, grading basis, NULLable midterm grade, institution
    * — ORDER BY section_id, sis_id). Fixture roles: enrollment row =
    * lineitem of a term order; the TO_CHAR cast lands on sis_id; the
    * reference's nullable GRADE_MARK_MID becomes a CASE that nulls the
    * not-yet-graded flag. ROWNUM batching of this query is ported
    * separately (rel_pagination / rel_keyset_pagination); the snapshot
    * job uploads the whole extract, as jobs.py:60-62 does.
    *
    * Scale shape: the terms' filter is a pushable range OR on the orders
    * scan; lineitem joins on the order key (the one shuffle); all 13
    * output columns are projections, no arithmetic (byte-stable CSV).
    * One plan for all `terms`, sorted by [[TermColumn]] first and then
    * by the reference keys: each section lies in one term, so the
    * leading routing key leaves every term's row order, ties included,
    * as its single-term extract has it. */
  def termEnrollmentsForTerms(s: SparkSession, dir: String,
                              terms: Seq[String]): DataFrame = {
    val o = Tables(s, dir, "orders")
      .filter(inTerms(col("o_orderdate"), terms))
    Tables(s, dir, "lineitem")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .select(
        col("l_orderkey").as("section_id"),
        date_format(col("o_orderdate"), "yyyyMM").as("term_id"),
        col("o_orderpriority").as("session_id"),
        col("o_custkey").as("ldap_uid"),
        col("o_custkey").cast("string").as("sis_id"),
        col("l_linestatus").as("enrollment_status"),
        col("l_linenumber").as("waitlist_position"),
        col("l_quantity").as("units"),
        col("l_returnflag").as("grade"),
        col("l_discount").as("grade_points"),
        col("o_orderstatus").as("grading_basis"),
        when(col("l_returnflag") === "N", lit(null).cast("string"))
          .otherwise(col("l_returnflag")).as("grade_midterm"),
        lit("UC_GRAFT").as("institution"))
      .distinct()
      .transform(routedByTermId)
      // the reference orders by (section_id, sis_id) only
      // (jobs.py/queries.py enrollment ORDER BY); waitlist_position
      // narrows the ties but does NOT settle them: section_id and
      // waitlist_position are (l_orderkey, l_linenumber), which is not
      // unique in the fixtures (11,785 such pairs occur more than once
      // at sf0.01), so distinct rows tied on all three keys still land
      // in an engine-chosen CSV order. CHANGES.md records the finding;
      // the job benchmark's manifests pin today's order.
      .orderBy(TermColumn, "section_id", "sis_id", "waitlist_position")
  }

  /** [[termEnrollmentsForTerms]] for one term, without the routing
    * column: the `enrollments-{termId}` extract. */
  def termEnrollments(s: SparkSession, dir: String, termId: String): DataFrame =
    termEnrollmentsForTerms(s, dir, Seq(termId)).drop(TermColumn)

  /** Snapshot per-term courses — the distinct parts ordered in each
    * term, with catalog metadata (reference get_term_courses,
    * jobs.py:56-58). Fact-fact join shuffles once on the order key;
    * the small distinct (part key, term) set then broadcast-joins to
    * `part`. One plan for all `terms`, ordered by [[TermColumn]], then
    * the reference's course_id. */
  def termCoursesForTerms(s: SparkSession, dir: String,
                          terms: Seq[String]): DataFrame = {
    val termOrders = Tables(s, dir, "orders")
      .filter(inTerms(col("o_orderdate"), terms))
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyyMM").as(TermColumn))
    val partKeys = Tables(s, dir, "lineitem")
      .join(termOrders, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey"), col(TermColumn)).distinct()
    Tables(s, dir, "part")
      .join(partKeys, col("p_partkey") === col("l_partkey"))
      .select(col("p_partkey").as("course_id"),
        trim(col("p_name")).as("course_title"),
        col("p_brand").as("catalog_nbr"),
        col("p_type").as("course_type"),
        col(TermColumn))
      .orderBy(TermColumn, "course_id")
  }

  /** [[termCoursesForTerms]] for one term, without the routing column:
    * the `courses-{termId}` extract. */
  def termCourses(s: SparkSession, dir: String, termId: String): DataFrame =
    termCoursesForTerms(s, dir, Seq(termId)).drop(TermColumn)

  /** Refresh per-term instructor updates — the reference's FULLY
    * COMPOSED extract (get_recent_instructor_updates,
    * jonesy/queries.py:124-149 via jobs.py:40-45): the CDC updates
    * stream filtered to creates/updates (`change_type IN ('C','U')`,
    * the T2/P5 face) and to the term month + recency cutoff, then a
    * 3-WAY JOIN to the instructor-assignment dim and the section dim,
    * DISTINCT projection, and the reference's multi-key ORDER BY with
    * `last_updated DESC` innermost.
    *
    * Fixture roles: events = CLASS_INSTR_UPDATESV00_VW (the CDC
    * stream; event_type click/view = change_type C/U, ts =
    * last_updated), customer = ASSIGNEDINSTRUCTORV00_VW (c_custkey =
    * campus-uid via the stream's user_id, c_mktsegment = role-code),
    * nation = CLASSSECTIONALLV01_MVW (reached through the assignment
    * dim's nation key; n_regionkey < 2 stands in for the section's
    * "primary" flag). The reference joins instr on FIVE key columns;
    * the fixture stream carries one instructor key, so the join is
    * single-key here — the multi-key equi-join shape is certified
    * separately by `ref_star_join` (J1).
    *
    * Cutoff is an ARGUMENT, as in the reference (jobs.py:40 computes
    * now − RECENT_REFRESH_CUTOFF_DAYS once and passes it into both
    * refresh queries). When omitted it anchors to max(ts) − 5 days so
    * the extract is deterministic for the oracle — with the documented
    * approximation that term membership and the recency window then
    * land on the same timestamp column relative to the global max.
    *
    * Scale shape: term+recency+CDC predicates all push to the events
    * scan BEFORE the joins; customer joins on user_id (the one real
    * shuffle), nation broadcasts (25 rows); DISTINCT reuses the
    * already-shuffled key's locality. One plan for all `terms` (the
    * cutoff is the same for every term, as in the reference), ordered
    * by [[TermColumn]], then the reference keys. */
  def recentInstructorUpdatesForTerms(s: SparkSession, dir: String,
      terms: Seq[String], cutoff: Option[java.sql.Timestamp] = None)
      : DataFrame = {
    val e = Tables(s, dir, "events")
    val inTerm = e
      .filter(col("event_type").isin("click", "view"))
      .filter(inTerms(col("ts"), terms))
    val recent = cutoff match {
      case Some(c) => inTerm.filter(col("ts") >= lit(c))
      case None =>
        inTerm
          .join(broadcast(e.agg(max("ts").as("max_ts"))))
          .filter(col("ts") >= col("max_ts") - expr("INTERVAL 5 DAYS"))
          .drop("max_ts")
    }
    val instr = Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
    val sec = Tables(s, dir, "nation")
      .select(col("n_nationkey"), col("n_regionkey"))
    recent
      .join(instr, col("user_id") === col("c_custkey"))
      .join(broadcast(sec), col("c_nationkey") === col("n_nationkey"))
      .select(
        col("user_id").as("sis_id"),
        date_format(col("ts"), "yyyyMM").as("term_id"),
        col("event_id").as("section_id"),
        col("event_type").as("course_id"),
        col("c_custkey").as("ldap_uid"),
        col("c_mktsegment").as("role_code"),
        (col("n_regionkey") < 2).as("is_primary"),
        col("ts").as("last_updated"))
      .distinct()
      .transform(routedByTermId)
      // reference ORDER BY (queries.py:148): term, course, section,
      // uid, last_updated DESC — section_id (the unique stream id)
      // already makes the order total
      .orderBy(col(TermColumn), col("term_id"), col("course_id"),
        col("section_id"), col("ldap_uid"), col("last_updated").desc)
  }

  /** [[recentInstructorUpdatesForTerms]] for one term, without the
    * routing column: the `instructor-updates-{termId}` extract. */
  def recentInstructorUpdates(s: SparkSession, dir: String, termId: String,
                              cutoff: Option[java.sql.Timestamp] = None)
      : DataFrame =
    recentInstructorUpdatesForTerms(s, dir, Seq(termId), cutoff)
      .drop(TermColumn)

  /** Refresh per-term enrollment updates — the reference's FULLY
    * COMPOSED extract (get_recent_enrollment_updates,
    * jonesy/queries.py:97-121 via jobs.py:46-49), not just its
    * watermark: term filter + recency cutoff + the
    * omit_drops_and_withdrawals conditional join (queries.py:1-19 —
    * the P7/J4 shape certified standalone as `ref_conditional_join`)
    * + the §2.11 career-priority truncation sort (queries.py:108-120:
    * within each term, rows are ORDERED by academic-career rank so a
    * downstream processing cutoff drops the LOWEST-priority careers
    * first — the sort IS part of the output contract).
    *
    * Fixture roles as in [[termEnrollments]] / `ref_conditional_join`:
    * lineitem = enrollment (l_returnflag = grade, 'R' = withdrawn,
    * l_linestatus = status, 'X' = dropped), orders = section
    * (o_orderstatus = grading basis, 'O' = the not-graded basis whose
    * withdrawal state lives on the primary section), o_orderpriority =
    * course career (its 1-URGENT…5-LOW domain maps onto the
    * reference's UGRD<GRAD<LAW<UCBX<else rank ladder).
    *
    * The correlated per-row MIN over primary-section grades is
    * decorrelated by construction — one pre-aggregate per order key
    * over TERM orders (the reference's prim_enr is term-scoped but
    * NOT recency-scoped, queries.py:8-16) and a left join — while the
    * DuckDB oracle of the catalog face keeps the reference's
    * correlated shape. Cutoff semantics and the anchored default's
    * collapsed-dimension caveat as in [[recentInstructorUpdates]].
    *
    * Scale shape: the term+recency range predicates push to the
    * orders scan; lineitem joins term orders on the order key (the
    * one repeated shuffle key — primMin, the main join, and the
    * DISTINCT all hash on it); the priority rank is a narrow CASE
    * evaluated only in the final sort. One plan for all `terms`:
    * primMin stays per term because each order key lies in one term;
    * the rows are ordered by [[TermColumn]], then the reference keys. */
  def recentEnrollmentUpdatesForTerms(s: SparkSession, dir: String,
      terms: Seq[String], cutoff: Option[java.sql.Timestamp] = None)
      : DataFrame = {
    val o = Tables(s, dir, "orders")
    val inTerm = o.filter(inTerms(col("o_orderdate"), terms))
    val recent = cutoff match {
      case Some(c) => inTerm.filter(col("o_orderdate") >= lit(c))
      case None =>
        inTerm
          .join(broadcast(o.agg(max("o_orderdate").as("max_date"))))
          .filter(col("o_orderdate") >= col("max_date") - expr("INTERVAL 5 DAYS"))
          .drop("max_date")
    }
    val enroll = Tables(s, dir, "lineitem")
      .filter(col("l_linestatus") =!= "X")
    // Fixture-collapse caveat (documented, not a defect): primary
    // sections are linked through the row's OWN order key, and primMin
    // only covers keys whose order is 'F' — so for an 'O' order,
    // prim_grade is NULL by construction and the 'O' branch of the
    // conditional filter below always drops. In the reference a
    // non-basis enrollment's primary section is a DIFFERENT section
    // that can carry a grade; the TPC-H fixture has no
    // section→primary-section edge to express that, so this face (and
    // its DuckDB oracle, which encodes the identical shape) certify
    // the conditional-join PLAN with the 'O' branch collapsed to
    // always-drop. ref_conditional_join exercises the branch with
    // live rows on both sides.
    val primMin = enroll
      .join(inTerm.filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_orderkey").as("pm_orderkey"))
      .agg(min("l_returnflag").as("prim_grade"))
    enroll
      .join(recent, col("l_orderkey") === col("o_orderkey"))
      .join(primMin, col("l_orderkey") === col("pm_orderkey"), "left")
      .filter(
        when(col("o_orderstatus") === "O",
          col("prim_grade").isNotNull && col("prim_grade") =!= "R")
          .otherwise(col("l_returnflag") =!= "R"))
      .select(
        col("l_orderkey").as("section_id"),
        date_format(col("o_orderdate"), "yyyyMM").as("term_id"),
        col("o_custkey").as("ldap_uid"),
        col("o_custkey").cast("string").as("sis_id"),
        col("l_linestatus").as("enroll_status"),
        col("o_orderpriority").as("course_career"),
        col("o_orderdate").as("last_updated"))
      .distinct()
      .transform(routedByTermId)
      // reference ORDER BY (queries.py:108-120): term, career rank,
      // section, uid, last_updated DESC; enroll_status appended as a
      // determinism extension (distinct rows can tie on all five
      // reference keys), same stance as termEnrollments
      .orderBy(col(TermColumn), col("term_id"),
        graft.functions.Fns.priorityRank(col("course_career"),
          Seq("1-URGENT" -> 1, "2-HIGH" -> 2, "3-MEDIUM" -> 3,
            "4-NOT SPECIFIED" -> 4)),
        col("section_id"), col("ldap_uid"), col("last_updated").desc,
        col("enroll_status"))
  }

  /** [[recentEnrollmentUpdatesForTerms]] for one term, without the
    * routing column: the `enrollment-updates-{termId}` extract. */
  def recentEnrollmentUpdates(s: SparkSession, dir: String, termId: String,
                              cutoff: Option[java.sql.Timestamp] = None)
      : DataFrame =
    recentEnrollmentUpdatesForTerms(s, dir, Seq(termId), cutoff)
      .drop(TermColumn)

  /** Run one job: every flat query in its pipeline and every
    * (per-term extract × current term), each written gzip-CSV to each
    * target under the md5-dated daily key (per-term keys
    * `{group}/{group}-{termId}.gz`, reference jobs.py:41-62). Returns
    * (query, target, ok) rows in declaration order — pre-step, flat
    * extracts, then per-term extracts by term — whatever order the
    * steps finished in; empty for an unknown job.
    *
    * A flat step is one extract: build its frame, then
    * [[Sinks.fanOut]]. A family step is one per-term extract family
    * ([[termFamilies]]): build its frame once over all current terms,
    * then [[Sinks.fanOutRouted]] to the terms' keys, so every term key
    * gets a file, an empty gzip for a term without rows. The job's
    * pre-step ([[preSteps]], index maintenance) runs first and alone,
    * because its reports read what it wrote. The remaining steps are
    * independent and run concurrently through [[runSteps]], on at most
    * `sparkContext.defaultParallelism` threads (4 under `local[4]`):
    * the flat extracts and the term lookup are submitted together, and
    * each family step as soon as the terms are known. Each step keeps
    * its own plan, so its Spark jobs and landed bytes are those of a
    * serial run.
    *
    * A step that throws does not stop the others: every extract that
    * can land still lands, and then a [[StepsFailed]] is thrown. It
    * carries the rows of the steps that finished, pre-step first; its
    * cause is the first failure in declaration order, with the later
    * ones attached to that as suppressed. A family step that throws
    * loses all its terms' rows at once. A failed delivery is not a
    * throw — the sink reports it as `ok = false` in the returned rows;
    * a family whose serialization fails reports every term false on
    * every target. */
  def run(job: String, spark: SparkSession, sfDir: String,
          targets: Seq[String], isoDate: String)
      : Seq[(String, String, Boolean)] =
    pipelines.get(job) match {
      case None =>
        System.err.println(
          s"[jobs] unknown job '$job' -- known: ${pipelines.keys.mkString(", ")}")
        Seq.empty
      case Some(extracts) =>
        // fail before any step runs: every fanOut would throw this, but
        // only after its face was built
        require(targets.nonEmpty, "no targets configured")
        // Advisors extracts live under the sis-sysadm/advisors prefix;
        // everything else under the plain sis-data daily root
        // (jobs.py:31-37 vs 52-54).
        val keyFor: String => String =
          if (job == "upload_advisors") Sinks.advisorsKey(isoDate, _)
          else Sinks.dailyKey(isoDate, _)
        def deliver(name: String, df: DataFrame, key: String) =
          Sinks.fanOut(df, targets, key).map { case (t, ok) => (name, t, ok) }
        // job-level pre-composition (index maintenance) runs FIRST —
        // the reports below describe the maintenance the run just did
        val pre = preSteps.get(job).toSeq.flatMap { case (extract, step) =>
          deliver(extract, step(spark, sfDir, isoDate), keyFor(extract))
        }
        val families = termFamilies.getOrElse(job, Seq.empty)
        var terms = Seq.empty[String]
        // family steps return their rows family by family; order them
        // term by term, as the per-term keys are declared (flat rows
        // rank -1 and stay first: the sort is stable)
        def termMajor(rows: Seq[(String, String, Boolean)]) = {
          val rank = (for (t <- terms; (_, file, _) <- families)
            yield s"$file-$t").zipWithIndex.toMap
          rows.sortBy(r => rank.getOrElse(r._1, -1))
        }
        val rest = try runSteps[(String, String, Boolean)](
            spark.sparkContext.defaultParallelism) { submit =>
          for ((name, extract) <- extracts) submit { () =>
            deliver(extract, SparkEntry.queries(name)(spark, sfDir),
              keyFor(extract))
          }
          if (families.nonEmpty) submit { () =>
            terms = currentTermIds(spark, sfDir)
            if (terms.nonEmpty)
              for ((dir, file, family) <- families) submit { () =>
                Sinks.fanOutRouted(family(spark, sfDir, terms), targets,
                  TermColumn,
                  terms.map(t => t -> Sinks.termKey(isoDate, dir, file, t)))
                  .map { case (t, target, ok) => (s"$file-$t", target, ok) }
              }
            Seq.empty
          }
        } catch {
          case e: StepsFailed[(String, String, Boolean)] @unchecked =>
            throw new StepsFailed(pre ++ termMajor(e.landed), e.getCause)
        }
        pre ++ termMajor(rest)
    }

  /** Thrown when some steps of a job threw: `landed` holds the rows of
    * the steps that finished, in submission order. The cause is the
    * first failure in submission order; later failures are attached to
    * it as suppressed. */
  final class StepsFailed[T](val landed: Seq[T], cause: Throwable)
      extends RuntimeException(cause)

  /** Run a job's steps concurrently and return their rows in
    * submission order. `submitAll` is called once, on the caller's
    * thread, with `submit`; a running step may call `submit` as well
    * (the term lookup submits the per-term extracts it finds), and the
    * steps it submits come after every step submitted before them.
    *
    * The pool starts a thread per submitted step up to `threads`, so
    * it holds min(steps, threads). Every submitted step runs to the
    * end even when another throws, so no Spark job keeps running
    * detached; then a [[StepsFailed]] is thrown with the rows of the
    * steps that finished, caused by the first failure in submission
    * order, with the later ones attached to it as suppressed. The pool
    * is shut down and terminated before this returns or throws. */
  private[graft] def runSteps[T](threads: Int)(
      submitAll: ((() => Seq[T]) => Unit) => Unit): Seq[T] = {
    import java.util.concurrent.{Callable, ExecutionException, Executors,
      Future, TimeUnit}
    val started = new java.util.concurrent.atomic.AtomicInteger
    val pool = Executors.newFixedThreadPool(threads, { (r: Runnable) =>
      val t = new Thread(r, s"graft-job-step-${started.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
    val submitted = scala.collection.mutable.ArrayBuffer.empty[Future[Seq[T]]]
    // submit and record under one lock: a step's follow-ups must not
    // overtake the record of the step that submitted them
    def submit(step: () => Seq[T]): Unit = submitted.synchronized {
      submitted += pool.submit(new Callable[Seq[T]] { def call() = step() })
    }
    try {
      submitAll(submit)
      val rows = Seq.newBuilder[T]
      val failures = Seq.newBuilder[Throwable]
      // a step's follow-ups are recorded before the step completes, so
      // once the last recorded step is done nothing more can arrive
      var i = 0
      while (i < submitted.synchronized(submitted.size)) {
        try rows ++= submitted.synchronized(submitted(i)).get()
        catch { case e: ExecutionException => failures += e.getCause }
        i += 1
      }
      failures.result() match {
        case first +: later =>
          later.foreach(first.addSuppressed)
          throw new StepsFailed(rows.result(), first)
        case _ => rows.result()
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }
}
