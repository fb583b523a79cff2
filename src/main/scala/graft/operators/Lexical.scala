package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental BM25 inverted-index maintenance — the LEXICAL member
  * of the incremental trio (fingerprints `dd_incremental`, vectors
  * `Ann.appendIvfIndex` / `ss_ivf_append`, and this): at 100 TB the
  * posting build dominates lexical retrieval cost, and re-tokenizing
  * the resident corpus for every daily crawl batch is exactly what a
  * pipeline cannot afford. The index is four artifacts a warehouse
  * persists — the postings table `(doc_id, token, tf)`, the
  * vocabulary table `(token, df)`, the doc-length table
  * `(doc_id, dl)` (maintained so a probe NEVER re-aggregates the
  * full postings for lengths — the corpus-sized cost that would
  * otherwise hide inside every query batch), and the two corpus
  * scalars `(n_docs, Σdl)` — and appending a batch touches the
  * resident corpus ZERO times:
  *
  *   - batch postings: one tokenize pass over the BATCH only;
  *   - postings' = postings ∪ batch postings (batches are doc-
  *     disjoint from the resident corpus by construction — a crawl
  *     batch is new doc_ids — so per-doc term counts never merge);
  *   - df' = df +_token batch-df (full-outer add; new tokens enter
  *     with their batch df);
  *   - dl' = dl ∪ batch-dl (doc-disjoint union, like postings);
  *   - n_docs' / Σdl' add the batch scalars.
  *
  * Every merge is exact integer addition, so the appended index is
  * BIT-IDENTICAL to a from-scratch rebuild over the union corpus —
  * [[rankedFromIndex]] over the appended bundle returns the same
  * rankings as the full-rebuild `bm25Ranked` (SimilaritySpec pins
  * probe parity and the df/scalar merges). Re-tuning (the df-cap,
  * band structure) is a separate gated decision — `ss_bm25_append`
  * reports the per-term posting growth that triggers it, the
  * `ss_ivf_append` / `dd_lsh_bucket_stats` role.
  *
  * Terms are the repo's word-2-shingle convention (see
  * `ss_bm25_topk`'s rationale: the synthetic unigram vocabulary is
  * too dense for unigram idf). Scalars live as driver longs — a
  * 1-row planning-class collect per build/append, the
  * `ta_heavy_hitters` scalar-attach stance.
  */
object Lexical {

  /** Instance-grain word-2-shingles of a split-token array `__l` —
    * the one term definition shared by the index build, the append
    * path and the query side (the `dd_*` shingle convention). */
  val GramsOf: String =
    "if(size(__l) >= 2, transform(sequence(1, size(__l) - 1), " +
      "i -> concat_ws(' ', slice(__l, i, 2))), array())"

  /** The corpus scalars (docs-with-postings, total posting mass) of
    * a postings relation — THE one spelling of the pair every
    * lifecycle step must agree on (build, append, remove, derive,
    * pending-append convergence, delta fold): `countDistinct(doc_id)`
    * plus a null-guarded `sum(tf)` (an empty relation sums to NULL,
    * and an unguarded getLong would throw exactly on the empty-batch
    * edge). One helper instead of seven hand copies (r19 review). */
  private def corpusScalars(tf: DataFrame): (Long, Long) = {
    val r = tf.agg(countDistinct("doc_id"), sum("tf")).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** One tokenize pass → the postings relation `(doc_id, token, tf)`
    * — the inverted index as a DataFrame, map-side combinable. */
  def postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("__l"))
      .select(col("doc_id"), explode(expr(GramsOf)).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))

  /** The persisted-index bundle. `nDocs` counts docs WITH at least
    * one posting (the `bm25Ranked` convention — a one-token doc has
    * no 2-shingles and no dl); `sumDl` is the total posting mass
    * Σtf, so `avgdl_m = (1000·sumDl) div nDocs` exactly as the
    * full-rebuild scorer freezes it. `dl` is the per-doc posting
    * mass `(doc_id, dl)` — maintained through append/remove exactly
    * like the postings so the probe reads lengths from a |docs|-row
    * table instead of re-aggregating |postings| rows per batch.
    *
    * `dlSplit`, when present, is `dl` factored as (big, small) with
    * DISJOINT doc sets and `dl = big ∪ small`: the delta-served
    * table bundle sets it to (bucketed base doclen minus tombstones,
    * pending append-delta rows — bounded by the compaction gate's
    * row cap, so always broadcastable). A UNION would erase the big
    * leg's bucket partitioning and force the probe to shuffle the
    * whole |docs|-row relation per query batch between compactions;
    * [[rankedFromIndex]] instead overlays the small leg as a
    * broadcast, keeping the doclen side exchange-free. Consumers
    * needing the plain relation read `dl` (semantically identical).
    * `dfSplit` is the same factoring for the vocabulary: (bucketed
    * base vocab with the delta's per-token net adjustments overlaid
    * as a broadcast — partitioning preserved, dead tokens filtered;
    * brand-new tokens the pending batches introduced — delta-
    * bounded). A full-outer merge would lose the bucket partitioning
    * (SMJ FullOuter output partitioning is unknown) and re-shuffle
    * the whole vocabulary per probe batch. */
  final case class Bm25Index(tf: DataFrame, df: DataFrame,
                             dl: DataFrame, nDocs: Long, sumDl: Long,
                             dlSplit: Option[(DataFrame, DataFrame)] =
                               None,
                             dfSplit: Option[(DataFrame, DataFrame)] =
                               None)

  private def docLengths(tf: DataFrame): DataFrame =
    tf.groupBy("doc_id").agg(sum("tf").as("dl"))

  /** The one vocabulary derivation (df = docs per token) every face
    * shares — drift in any copy would break the bit-identical-to-
    * rebuild contract between the maintained and derived forms. */
  private def vocabOf(tf: DataFrame): DataFrame =
    tf.groupBy("token").agg(count(lit(1)).as("df"))

  /** From-scratch build: one tokenize pass + the vocabulary and
    * doc-length aggregates + a 1-row scalar collect. The scalar
    * collect reads a NARROW projection of the docs, not the postings
    * lineage (r20): a doc holds ≥1 posting iff it has ≥2 tokens, and
    * its dl is exactly size(tokens) − 1 (every gram instance counts
    * once), so count/sum over that projection equal
    * `corpusScalars(postings(docs))` without paying the
    * tokenize + (doc, token) aggregate a second time for one row —
    * the build's postings lineage is lazy and its consumers pay it
    * when THEY run. Precondition (the crawl invariant everywhere in
    * this module): doc_id is unique in `docs` — duplicate ids would
    * merge in the postings aggregate but double-count here. */
  def buildIndex(docs: DataFrame): Bm25Index = {
    val tf = postings(docs)
    val r = docs
      .select((size(split(col("text"), " ")) - 1).cast("long").as("n"))
      .filter(col("n") >= 1)
      .agg(count(lit(1)), coalesce(sum("n"), lit(0L))).collect()(0)
    Bm25Index(tf, vocabOf(tf), docLengths(tf),
      r.getLong(0), r.getLong(1))
  }

  /** [[buildIndex]] from an existing postings relation — the entry
    * point for callers that PERSIST `tf` before building (the
    * `ss_bm25_remove` report derives the base index, the removed
    * slice and the final join all from the same postings): the scalar
    * collect here populates the cache, so the whole face tokenizes
    * the corpus once instead of once per consumer. */
  def buildIndexFromPostings(tf: DataFrame): Bm25Index = {
    val (nd, sd) = corpusScalars(tf)
    Bm25Index(tf, vocabOf(tf), docLengths(tf), nd, sd)
  }

  /** The append: tokenize the BATCH only, union postings, add df per
    * token, add the scalars. The batch must be doc-disjoint from the
    * resident corpus (new doc_ids — the crawl-batch invariant); a
    * re-crawled doc_id goes through [[removeDocs]] first — NOT a bare
    * postings filter, which would leave `df`/`nDocs`/`sumDl` counting
    * the ghost doc and silently shift idf and avgdl away from the
    * rebuild the bit-identical contract promises. The true delete
    * cost is the filter plus ONE bounded aggregate over the removed
    * slice (see removeDocs), still never a corpus re-tokenize. */
  def appendIndex(idx: Bm25Index, batch: DataFrame): Bm25Index = {
    val btf = postings(batch)
    val bdf = vocabOf(btf)
    val (bDocs, bMass) = corpusScalars(btf)
    val mergedDf = idx.df.withColumnRenamed("df", "__base")
      .join(bdf.withColumnRenamed("df", "__new"),
        Seq("token"), "full_outer")
      .select(col("token"),
        (coalesce(col("__base"), lit(0L)) +
          coalesce(col("__new"), lit(0L))).as("df"))
    Bm25Index(idx.tf.unionByName(btf), mergedDf,
      idx.dl.unionByName(docLengths(btf)),
      idx.nDocs + bDocs, idx.sumDl + bMass)
  }

  /** The delete: remove a doc_id set (re-crawl supersession, takedown)
    * from the index without touching the surviving corpus. Cost is
    * the maintenance mirror of append: an anti-join filter over the
    * postings plus ONE aggregate over the REMOVED slice only — the
    * per-token df decrement (each (doc, token) appears once in the
    * postings, so the decrement is a row count) and the two scalar
    * subtractions (distinct removed docs for `nDocs`, Σtf for
    * `sumDl`, matching buildIndex's docs-with-postings convention).
    * Tokens whose df reaches zero LEAVE the vocabulary — exactly
    * what a from-scratch rebuild over the remainder computes, so the
    * result is bit-identical to `buildIndex(corpus minus ids)`
    * (SimilaritySpec pins df-map, scalar and probe parity). Ids
    * absent from the index are no-ops. The removed-slice aggregate
    * is bounded by the deleted docs' posting mass, never corpus
    * size — the crawl-maintenance invariant shared with
    * [[appendIndex]]. For the SERVING-table bundle, prefer
    * [[removeDocsDeferred]]: same decrements, installed as one
    * atomic delta table instead of a four-table rewrite. */
  def removeDocs(idx: Bm25Index, ids: DataFrame): Bm25Index = {
    // takedown batches are batch-sized by contract — broadcast them
    // so the postings extract streams instead of shuffling; past the
    // shared broadcast-safe bound fall back to the shuffle joins,
    // which complete at any id-set size instead of failing the whole
    // takedown on Spark's broadcast limit
    val rmIds = ids.select(col("doc_id")).distinct()
    val rm =
      if (rmIds.count() <= Partitioning.BroadcastIdCap) broadcast(rmIds)
      else rmIds
    val removed = idx.tf.join(rm, Seq("doc_id"), "left_semi")
    val dec = removed.groupBy("token").agg(count(lit(1)).as("__dec"))
    val (dDocs, dMass) = corpusScalars(removed)
    val newDf = idx.df.join(dec, Seq("token"), "left_outer")
      .select(col("token"),
        (col("df") - coalesce(col("__dec"), lit(0L))).as("df"))
      .filter(col("df") > 0)
    Bm25Index(idx.tf.join(rm, Seq("doc_id"), "left_anti"), newDf,
      idx.dl.join(rm, Seq("doc_id"), "left_anti"),
      idx.nDocs - dDocs, idx.sumDl - dMass)
  }

  /** Persist the bundle as four parquet datasets under `path`
    * (`postings/`, `vocab/`, `doclen/`, `scalars/` — the last a
    * 1-row table) via the T6 dynamic-overwrite sink, so the index
    * survives the session the way the IVF bucketed table does
    * (`Ann.appendIvfIndex`): build once, probe from any later job.
    * Re-delivery overwrites in place — idempotent like every other
    * sink in `jobs.Sinks`.
    *
    * The tokenize lineage executes ONCE: only the postings write
    * forces it; vocab and doclen are then re-derived from the
    * just-written parquet (a columnar scan of three narrow columns),
    * not from the in-session plans — three independent writes of
    * lazy plans all rooted at `postings(docs)` would tokenize the
    * corpus three times, the exact cost this module exists to avoid.
    * Sound because both tables are exact functions of the postings
    * and the MAINTAINED forms are spec-pinned bit-identical to these
    * recomputes at every lifecycle step.
    *
    * Each dataset lands via STAGE-THEN-RENAME (write `<dir>__stage`,
    * then swap): the maintain-and-rewrite flow — readIndex(path) →
    * append/remove → writeIndex(path) — has the postings write
    * READING the very directory it replaces, which a direct
    * overwrite both refuses (self-read) and, worked around with a
    * checkpoint, turns into a data-loss window (target dropped while
    * the only copy is non-fault-tolerant blocks). With the stage, a
    * crash leaves the intact original or a complete durable staging
    * copy; a crash in the delete→rename window (target gone, the
    * fresh copy complete under `__stage`) is converged by
    * [[recoverStagedDir]], which both this writer and [[readIndex]]
    * probe first. The four datasets are not one transaction — a
    * crash between swaps leaves a mixed bundle; re-running
    * writeIndex WITH THE SAME `idx` converges it (every write is
    * idempotent over the same input).
    *
    * SCOPE (r19 review): that convergence holds for a retry of the
    * same writeIndex call, NOT for a re-run of a whole
    * readIndex → append → writeIndex maintenance flow — after the
    * postings swap, a re-read sees the appended postings and would
    * union the batch in a second time. The directory bundle is the
    * EXPORT face; crash-convergent incremental maintenance is the
    * serving-TABLE path ([[appendIndexTables]] /
    * [[writeIndexTables]]), whose markers, generation stamps and
    * freshness guards exist for exactly that flow. */
  def writeIndex(idx: Bm25Index, path: String): Unit = {
    val spark = idx.tf.sparkSession
    def staged(dir: String)(write: String => Unit): Unit = {
      recoverStagedDir(spark, dir)
      val stage = dir + "__stage"
      write(stage)
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // FileSystem.delete/rename signal several failure modes (e.g.
      // rename onto an existing/locked path) by returning FALSE, not
      // throwing — an unchecked false here would report success with
      // the dataset missing from the bundle while its only fresh copy
      // sits orphaned under __stage (ADVICE r14 #1). exists-guarded
      // delete: false from a plain delete also just means "was absent".
      if (fs.exists(p) && !fs.delete(p, true))
        throw new java.io.IOException(
          s"staged swap: could not delete $dir; fresh copy is at $stage")
      if (!fs.rename(new org.apache.hadoop.fs.Path(stage), p))
        throw new java.io.IOException(
          s"staged swap: rename $stage -> $dir failed; " +
            s"fresh copy is at $stage")
    }
    staged(s"$path/postings") {
      Partitioning.writePartitioned(idx.tf, _, Nil) }
    val tfDisk = graft.sources.Tables
      .readLake(spark, s"$path/postings", "parquet")
    staged(s"$path/vocab") {
      Partitioning.writePartitioned(vocabOf(tfDisk), _, Nil) }
    staged(s"$path/doclen") {
      Partitioning.writePartitioned(docLengths(tfDisk), _, Nil) }
    import spark.implicits._
    staged(s"$path/scalars") {
      Partitioning.writePartitioned(
        Seq((idx.nDocs, idx.sumDl)).toDF("n_docs", "sum_dl"), _, Nil) }
  }

  /** Reload a [[writeIndex]] bundle. The scalar read is a 1-row
    * planning-class collect (the `ta_heavy_hitters` stance); the
    * postings/vocab/doclen come back as lazy scans, so a
    * reload-then-probe reads only the posting lists the query's
    * terms touch — the serving shape, corpus never rescanned. A
    * bundle persisted BEFORE the doclen dataset existed (three
    * datasets only) stays readable: its doc lengths derive from the
    * intact postings instead — correct (dl is an exact function of
    * tf), just without the probe-cost benefit until the bundle is
    * rewritten. */
  /** Converge a [[writeIndex]] staged swap that crashed between its
    * delete and rename: the target directory is gone and the only —
    * complete — copy sits under `<dir>__stage`. Rename it in. The
    * `_SUCCESS` guard keeps a PARTIAL stage (a crash mid-write on a
    * first-ever export, before any target existed) from being
    * installed as if it were a finished dataset. No-op when the
    * target exists (a leftover stage from a crash before the delete
    * is simply overwritten by the next write). */
  private def recoverStagedDir(spark: org.apache.spark.sql.SparkSession,
                               dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new org.apache.hadoop.fs.Path(dir + "__stage")
    if (!fs.exists(p) && fs.exists(stage) &&
        fs.exists(new org.apache.hadoop.fs.Path(stage, "_SUCCESS")) &&
        !fs.rename(stage, p))
      throw new java.io.IOException(
        s"staged-swap recovery: rename $stage -> $dir failed")
  }

  def readIndex(spark: org.apache.spark.sql.SparkSession,
                path: String): Bm25Index = {
    import graft.sources.Tables
    // converge a writeIndex swap that crashed in the delete→rename
    // window before trusting any dataset's existence
    for (d <- Seq("postings", "vocab", "doclen", "scalars"))
      recoverStagedDir(spark, s"$path/$d")
    val sc = Tables.readLake(spark, s"$path/scalars", "parquet")
      .select("n_docs", "sum_dl").collect()(0)
    val tf = Tables.readLake(spark, s"$path/postings", "parquet")
    val dlPath = new org.apache.hadoop.fs.Path(s"$path/doclen")
    val dl =
      if (dlPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(dlPath))
        Tables.readLake(spark, s"$path/doclen", "parquet")
      else docLengths(tf)
    Bm25Index(tf,
      Tables.readLake(spark, s"$path/vocab", "parquet"),
      dl, sc.getLong(0), sc.getLong(1))
  }

  /** Serving-TABLE layout of the bundle — the `Ann.buildIvfIndex`
    * build-once pattern, lexical edition: the same four artifacts as
    * [[writeIndex]], but postings and vocabulary persisted as
    * TOKEN-bucketed catalog tables and doclen bucketed by doc_id. A
    * probe over [[readIndexTables]] then plans every INDEX-side join
    * without an exchange on the index side — the bucketed scans come
    * out hash-partitioned by their bucket spec, so only the (small)
    * query-derived side shuffles to meet them; at 100 TB the
    * postings never move. Same one-tokenize-pass discipline as
    * writeIndex: vocab and doclen derive from the just-written
    * postings table. Every table installs via
    * [[Partitioning.replaceBucketed]]'s stage-then-swap, so the
    * maintain-and-rewrite flow — readIndexTables(name) →
    * append/remove → writeIndexTables(name) — works in place (the
    * postings lineage may READ the table being replaced) and a
    * mid-write failure can never destroy the serving copy. The four
    * tables are not one transaction — a crash between swaps leaves a
    * mixed bundle; re-running writeIndexTables converges it. */
  def writeIndexTables(idx: Bm25Index, name: String,
                       buckets: Int = 16): Unit = {
    val spark = idx.tf.sparkSession
    // the NEW generation is fixed before any install: the scalars the
    // derive stamps must supersede every delta/marker computed
    // against the old artifacts, whatever instant a crash lands on
    val gen = foldGen(spark, name) + 1L
    Partitioning.replaceBucketed(spark, s"${name}_postings", idx.tf,
      "token", buckets)
    // fold-pending marker, installed AFTER the postings swap but
    // BEFORE the first derived-artifact swap: from here to the marker
    // drop the bundle may be MIXED-GENERATION (folded vocab/doclen
    // next to old-gen scalars, whose old-gen deltas would otherwise
    // still read as valid and double-apply — the window the r17
    // scalars-only stamp narrowed but did not close). Readers seeing
    // the marker serve an in-memory derive from postings-truth
    // ([[readIndexTables]]); the next maintenance WRITE finishes the
    // derive ([[finishPendingFold]]). Either way no path ever pairs a
    // folded artifact with the deltas it already folded in.
    import spark.implicits._
    Partitioning.replaceTable(spark, s"${name}__fold_pending",
      Seq((gen, buckets)).toDF("fold_gen", "buckets"))
    deriveIndexArtifacts(spark, name, buckets, gen)
    spark.sql(s"DROP TABLE IF EXISTS ${name}__fold_pending")
    // the bundle just written IS current truth (idx came from
    // readIndexTables with deltas applied, or is a fresh build) —
    // pending delete-deltas are folded in or superseded either way,
    // and a pending append marker's docs are in the derived artifacts
    // now (the derive read the full postings), so a later
    // finishPendingAppend merging them again would double-count.
    // The drops are hygiene, not correctness: the generation bump
    // above already marks both superseded for every reader and
    // writer (SimilaritySpec pins it).
    spark.sql(s"DROP TABLE IF EXISTS ${name}_deltas")
    spark.sql(s"DROP TABLE IF EXISTS ${name}__append_pending")
  }

  /** Converge a crashed [[writeIndexTables]] fold: if the
    * fold-pending marker exists and the scalars do not yet carry the
    * marker's target generation, the crash landed somewhere inside
    * [[deriveIndexArtifacts]] — the postings are already folded truth
    * (their swap precedes the marker install), so re-running the
    * derive from them is a pure re-computation that installs every
    * derived artifact at the target generation; then the marker
    * drops. WRITER-ONLY like [[finishPendingAppend]]: a reader must
    * not race the live fold's own derive with duplicate table swaps —
    * readers detect the marker and fall back to an in-memory derive
    * instead ([[readIndexTables]]). */
  private def finishPendingFold(
      spark: org.apache.spark.sql.SparkSession, name: String): Unit = {
    val fp = s"${name}__fold_pending"
    Partitioning.recoverSwap(spark, fp)
    if (!spark.catalog.tableExists(fp)) return
    val r = spark.table(fp).collect()(0)
    val (mGen, mBuckets) = (r.getLong(0), r.getInt(1))
    if (foldGen(spark, name) != mGen)
      deriveIndexArtifacts(spark, name, mBuckets, mGen)
    // crash between the recovery derive and this drop: the next call
    // finds scalars already at mGen and only drops the marker
    spark.sql(s"DROP TABLE IF EXISTS $fp")
  }

  /** Public writer-entry fold recovery, for maintenance JOBS that
    * want the convergence observable: every mutation path
    * ([[appendIndexTables]], [[removeDocsDeferred]],
    * [[compactIndexTables]]) already converges a crashed fold
    * silently as its first step, but a cron that only logged its own
    * steps would hide that last night's run died mid-fold and
    * tonight's run healed it. Returns true iff a fold-pending marker
    * was found (and the bundle converged via [[finishPendingFold]]) —
    * the caller's signal to emit a recovery log row. Writer-only,
    * same as the private entry. */
  def recoverPendingFold(spark: org.apache.spark.sql.SparkSession,
                         name: String): Boolean = {
    val fp = s"${name}__fold_pending"
    Partitioning.recoverSwap(spark, fp)
    val pending = spark.catalog.tableExists(fp)
    if (pending) finishPendingFold(spark, name)
    pending
  }

  /** True iff a fold-pending marker exists whose target generation
    * the scalars have not reached — the mixed-generation window a
    * READER must not serve from the artifact tables. Read-only. */
  private def foldInProgress(
      spark: org.apache.spark.sql.SparkSession, name: String): Boolean = {
    val fp = s"${name}__fold_pending"
    Partitioning.recoverSwap(spark, fp)
    spark.catalog.tableExists(fp) &&
      spark.table(fp).collect()(0).getLong(0) != foldGen(spark, name)
  }

  /** The derived tail of [[writeIndexTables]] (the build/compaction
    * path — the one place the full-postings aggregate is the point;
    * the daily append path never runs this, r16 verdict #1): vocab,
    * doclen and scalars rebuilt from the postings TABLE state.
    * Scalars re-derived from the just-written postings, NOT taken
    * from driver longs: with a delta table in play, in-memory
    * nDocs/sumDl may already have the deltas folded, and a crash
    * between the scalar install and a later delta drop would
    * double-count in a way no re-run could converge. Derived from
    * the postings, every artifact is a pure function of the postings
    * install, so re-running the caller after ANY crash converges the
    * bundle. */
  private def deriveIndexArtifacts(
      spark: org.apache.spark.sql.SparkSession, name: String,
      buckets: Int, gen: Long): Unit = {
    val tfDisk = spark.table(s"${name}_postings")
    Partitioning.replaceBucketed(spark, s"${name}_vocab",
      vocabOf(tfDisk), "token", buckets)
    Partitioning.replaceBucketed(spark, s"${name}_doclen",
      docLengths(tfDisk), "doc_id", buckets)
    val (nd, sd) = corpusScalars(tfDisk)
    import spark.implicits._
    Partitioning.replaceTable(spark, s"${name}_scalars",
      Seq((nd, sd, gen))
        .toDF("n_docs", "sum_dl", "fold_gen"))
  }

  /** The artifact GENERATION of a serving bundle — stamped into the
    * scalars by every fold ([[deriveIndexArtifacts]]) and carried by
    * every delta table and append marker as the generation they were
    * computed AGAINST. The stamp closes the fold's last
    * reader-visible crash window: with artifacts already derived
    * from the folded postings but the delta drop not yet executed, a
    * reader used to DOUBLE-APPLY the surviving deltas (dfdec
    * decrementing already-folded df, scal_docs pushing nDocs
    * negative). Now a generation mismatch marks deltas SUPERSEDED —
    * readers serve the folded artifacts pure, writers discard the
    * stale table on their next delta write, and a pending append
    * marker older than the artifacts drops without a merge (the
    * fold's derive read the full postings, so the marker's committed
    * docs are already accounted). Pre-stamp bundles read as
    * generation 0, matching their unstamped deltas/markers — the
    * legacy behavior, upgraded at their first fold. */
  private def foldGen(spark: org.apache.spark.sql.SparkSession,
                      name: String): Long = {
    Partitioning.recoverSwap(spark, s"${name}_scalars")
    if (!spark.catalog.tableExists(s"${name}_scalars")) 0L
    else {
      val t = spark.table(s"${name}_scalars")
      if (!t.columns.contains("fold_gen")) 0L
      else t.select("fold_gen").collect()(0).getLong(0)
    }
  }

  /** The deltas table iff it exists AND matches the artifacts'
    * generation; a stale (pre-fold) table reads as ABSENT — see
    * [[foldGen]]. Every read and write of `<name>_deltas` goes
    * through here so no path can apply superseded arithmetic. */
  private def validDeltas(spark: org.apache.spark.sql.SparkSession,
                          name: String): Option[DataFrame] = {
    val dt = s"${name}_deltas"
    Partitioning.recoverSwap(spark, dt)
    if (!spark.catalog.tableExists(dt)) None
    else {
      val d = spark.table(dt)
      val g = d.filter(col("kind") === "gen").select("n").collect()
      val dGen = if (g.isEmpty) 0L else g(0).getLong(0)
      if (dGen == foldGen(spark, name)) Some(d) else None
    }
  }

  /** The 1-row generation stamp every fresh deltas table carries
    * (kind='gen', n=generation); prior-carrying rewrites inherit the
    * row through their pass-through leg instead. */
  private def genRow(spark: org.apache.spark.sql.SparkSession,
                     gen: Long): DataFrame = {
    import spark.implicits._
    Seq(("gen", gen)).toDF("kind", "n")
      .select(col("kind"), lit(null).cast("long").as("id"),
        lit(null).cast("string").as("token"), col("n"))
  }

  /** APPEND a crawl batch into the serving-TABLE bundle touching
    * ONLY batch-sized data — the daily-maintenance path the
    * rewrite-per-batch flow (readIndexTables → [[appendIndex]] →
    * [[writeIndexTables]]) cannot afford at 100 TB, and the lexical
    * twin of `Ann.appendIvfIndex`. The batch tokenizes ONCE and its
    * postings land as bucketed-append files under the SAME bucket
    * spec (probe-side plans unchanged — Spark bucketed appends hash
    * new files identically). The derived artifacts do NOT rebuild:
    * the batch's per-token df increments, its doclen rows and its
    * two scalar adds land in the `<name>_deltas` table — the
    * [[removeDocsDeferred]] machinery with the sign flipped — via
    * one atomic staged swap, and [[readIndexTables]] folds them into
    * the served view next to the tombstone deltas. Steady-state cost
    * per batch: one batch tokenize + one aggregate over the batch's
    * OWN postings + the small-table swap — never a full-postings
    * scan (r16 verdict #1: the derive-per-append was the last
    * full-scan-class step in the daily cron).
    *
    * Crash convergence rides the `<name>__append_pending` marker —
    * the batch's fresh doc_ids, installed atomically BEFORE the
    * postings append. [[finishPendingAppend]] (run at the top of
    * every maintenance WRITE — append, deferred delete, compaction;
    * deliberately not by readers, see its contract) recomputes the
    * pending batch's delta
    * from postings-truth restricted to the marked ids (bounded by
    * the batch's posting mass) and merges it exactly once (the delta
    * records the marker's id-set fingerprint in the same atomic
    * swap), so a crash at ANY instant converges on the next run:
    * before the postings append the marker's ids are absent from the
    * postings and simply re-run; after it they merge from truth;
    * after the merge the fingerprint short-circuits a re-merge.
    *
    * Batch docs already present in the index are dropped (re-run
    * idempotence — T6; the guard probes doclen ∪ pending dladd rows —
    * |docs|-row tables, not the |postings|-row scan, sound because
    * the marker convergence above has already accounted every
    * committed doc in one of the two). A batch that re-adds a
    * DEFERRED-DELETED doc compacts first, exactly like the IVF
    * overlap rule (clearing the tombstone would unmask the ghost
    * postings, keeping it would mask the fresh ones). The COMPACTION
    * GATE bounds the delta's growth exactly as on the delete side:
    * pending appended docs ≥ min(compactFraction · base docs,
    * maxDeltaDocs) → [[compactIndexTables]] folds everything into
    * the physical bundle (paying the rebuild once per ~fraction of
    * corpus growth, amortized — the LSM shape). Returns the number
    * of fresh docs THIS call appended (0 for a full redelivery),
    * exclusive of any prior crashed batch it converged. */
  def appendIndexTables(spark: org.apache.spark.sql.SparkSession,
                        name: String, batch: DataFrame,
                        compactFraction: Double = 0.05,
                        maxDeltaDocs: Long = 1000000L): Long = {
    val dt = s"${name}_deltas"
    Partitioning.recoverSwap(spark, dt)
    // writer path: converge a fold that crashed mid-derive FIRST —
    // until then the bundle is mixed-generation and every artifact
    // read below would mix folded and pre-fold state
    finishPendingFold(spark, name)
    // MIGRATION: a bundle whose pre-delta-protocol append crashed
    // between its postings install and its full derive left the old
    // `__derive_pending` marker and stale artifacts; the old code
    // converged it with a full re-derive, so pay that once here (the
    // pre-upgrade delete-deltas stay valid — they are relative to
    // postings-truth, which the derive re-reads)
    val legacy = s"${name}__derive_pending"
    Partitioning.recoverSwap(spark, legacy)
    if (spark.catalog.tableExists(legacy)) {
      // NOT a fold — the generation does NOT bump: this re-derive
      // reads the postings AS THEY ARE, which still physically
      // contain any deferred-deleted docs, so the delete-deltas must
      // STAY valid and keep subtracting (bumping would mark them
      // superseded and silently resurrect every tombstoned doc).
      // Append-deltas cannot exist here: the legacy marker predates
      // the delta-append protocol, whose first maintenance call is
      // what migrates it.
      deriveIndexArtifacts(spark, name,
        Partitioning.bucketSpecOf(spark, s"${name}_postings").numBuckets,
        foldGen(spark, name))
      spark.sql(s"DROP TABLE IF EXISTS $legacy")
    }
    finishPendingAppend(spark, name) // converge a prior crashed append
    // the feed contract is doc-grain: an at-least-once source can
    // repeat a doc WITHIN one batch, where the batch-vs-index guard
    // below can't see it — both copies would append and double the
    // doc's tf/doclen/scalar mass. One row per id survives (arbitrary
    // among byte-identical redeliveries).
    // INDEXABLE docs only (≥ 2 tokens → ≥ 1 gram, the buildIndex
    // docs-with-postings convention): a shingle-less doc can never
    // enter doclen or the deltas, so keeping it in the batch made the
    // freshness guard report it as "appended" on EVERY redelivery
    // (violating the return contract) and left a permanently dangling
    // append-pending marker whose fingerprint probe every later
    // maintenance op re-paid (r19 review)
    val dedup = batch.dropDuplicates("doc_id")
      .filter(coalesce(size(split(col("text"), " ")), lit(0)) >= 2)
    val batchIds = dedup.select(col("doc_id")).distinct()
    if (validDeltas(spark, name).exists(
        _.filter(col("kind") === "tomb")
          .select(col("id").as("doc_id"))
          .join(batchIds, Seq("doc_id"), "left_semi")
          .head(1).nonEmpty))
      compactIndexTables(spark, name)
    val spec = Partitioning.bucketSpecOf(spark, s"${name}_postings")
    // idempotence guard at doc grain: every committed doc is in base
    // doclen or in a pending dladd row (marker convergence ran above),
    // so probing their union is equivalent to probing the postings'
    // doc set — at ~1/avgdl the rows (shingle-less docs were filtered
    // out above, so "not yet indexed" now always means genuinely new).
    val dlIds = Partitioning.bucketed(spark, s"${name}_doclen")
      .select("doc_id")
    val indexedIds = validDeltas(spark, name) match {
      case Some(d) =>
        dlIds.unionByName(d.filter(col("kind") === "dladd")
          .select(col("id").as("doc_id")))
      case None => dlIds
    }
    val fresh = Partitioning.newKeysOnly(dedup, indexedIds, "doc_id")
    // a fully-redelivered batch appends nothing — no marker, no
    // postings write, no delta merge
    if (fresh.head(1).isEmpty) return 0L
    val mk = s"${name}__append_pending"
    // the marker carries the artifact generation it was installed
    // under ([[foldGen]]): a fold racing ahead of a crashed append's
    // convergence supersedes it, and finishPendingAppend drops it
    // without the double-counting merge
    Partitioning.replaceTable(spark, mk, fresh.select("doc_id")
      .withColumn("gen", lit(foldGen(spark, name))))
    val nFresh = spark.table(mk).count()
    postings(dedup.join(broadcast(spark.table(mk)),
        Seq("doc_id"), "left_semi"))
      .write.mode("append")
      .bucketBy(spec.numBuckets, "token")
      .sortBy("token")
      .format("parquet")
      .saveAsTable(s"${name}_postings")
    finishPendingAppend(spark, name) // merge THIS batch's delta
    // compaction gate on the accumulated append mass
    val nAdd = validDeltas(spark, name)
      .map(_.filter(col("kind") === "dladd").count()).getOrElse(0L)
    // a compaction crash inside the scalars replaceTable leaves the
    // table unbound until SOME path probes it — every other table
    // this function touches is recoverSwap'd above, and without this
    // probe the gate read below would fail every later append until
    // a reader happened to run
    Partitioning.recoverSwap(spark, s"${name}_scalars")
    val baseN = spark.table(s"${name}_scalars")
      .select("n_docs").collect()(0).getLong(0)
    val threshold = math.max(1L,
      math.min((compactFraction * baseN).toLong, maxDeltaDocs))
    if (nAdd >= threshold) compactIndexTables(spark, name)
    // THIS call's fresh docs (the installed marker's rows — a
    // batch-sized count), exclusive of any prior crashed batch the
    // top-of-call convergence merged: the honest "what did today's
    // batch add" number the maintenance log records
    nFresh
  }

  /** Converge a crashed [[appendIndexTables]]: if the append-pending
    * marker exists, account its docs from POSTINGS-TRUTH — the
    * per-token df increments, doclen rows and scalar adds of the
    * postings rows the marked ids actually committed (a broadcast
    * semi-join; cost bounded by the batch's posting mass, never the
    * corpus) — merged into the delta table in ONE atomic swap that
    * also records the marker's id-set fingerprint, making the merge
    * exactly-once: a re-run that finds the fingerprint already in
    * the delta only drops the marker. Ids with no committed postings
    * contribute nothing (buildIndex's docs-with-postings convention);
    * a marker whose ids committed NO postings at all (crash before
    * the append, or an all-shingle-less batch) is LEFT IN PLACE with
    * nothing merged — the next append overwrites or completes it.
    *
    * WRITER-ONLY, like every serving swap: the maintenance paths
    * (append, deferred delete, compaction) call this; the plain read
    * path must NOT, because a reader running between the marker
    * install and the in-flight postings commit would observe an
    * empty (or partially visible) slice and could record the
    * fingerprint against less than the batch's true mass — the
    * writer's own post-commit merge then skips on the fingerprint
    * and the unseen mass is never accounted. Until a writer
    * converges, readers serve the consistent PRE-APPEND view (the
    * pending docs' postings are physically present but invisible to
    * ranking — their doclen rows don't exist yet, and the probe's dl
    * lookup is what admits a doc). */
  private def finishPendingAppend(
      spark: org.apache.spark.sql.SparkSession, name: String): Unit = {
    val mk = s"${name}__append_pending"
    Partitioning.recoverSwap(spark, mk)
    if (!spark.catalog.tableExists(mk)) return
    // a marker OLDER than the artifacts' generation is superseded: a
    // fold ran after it was installed, and the fold's derive read the
    // full postings — the marker's committed docs are already in the
    // artifacts, so merging a delta for them would double-count.
    // Drop it without a merge. (Markers installed before the stamp
    // existed read gen 0, matching a pre-stamp bundle's artifacts.)
    val mkT = spark.table(mk)
    val mGen =
      if (!mkT.columns.contains("gen")) 0L
      else {
        val g = mkT.select("gen").limit(1).collect()
        if (g.isEmpty) 0L else g(0).getLong(0)
      }
    if (mGen != foldGen(spark, name)) {
      spark.sql(s"DROP TABLE IF EXISTS $mk")
      return
    }
    val ids = mkT.select("doc_id")
    // deterministic identity of the marked id-set — same ids, same
    // fingerprint, so the applied-row check below is exact across
    // re-runs (markers are batch-sized by contract: the collect_list
    // is one batch of longs on the driver)
    val fp = ids
      .agg(md5(concat_ws(",", sort_array(
        collect_list(col("doc_id").cast("string"))))).as("fp"))
      .collect()(0).getString(0)
    val dt = s"${name}_deltas"
    // stale (pre-fold) deltas read as absent — a gen-matched marker
    // with a stale prior cannot happen (the fold bumps both out
    // together), but the central [[validDeltas]] read keeps the
    // invariant in one place
    val prior: Option[DataFrame] = validDeltas(spark, name)
    val already = prior.exists(_.filter(col("kind") === "applied" &&
      col("token") === fp).head(1).nonEmpty)
    if (!already) {
      Partitioning.recoverSwap(spark, s"${name}_postings")
      val slice = spark.table(s"${name}_postings")
        .join(broadcast(ids), Seq("doc_id"), "left_semi")
      val (aDocs, aMass0) = corpusScalars(slice)
      // nothing committed for the marked ids: leave the marker in
      // place (the crash-before-postings window, or an all-shingle-
      // less batch) — the next append overwrites or completes it;
      // dropping here would lose the marker of an IN-FLIGHT append
      if (aDocs == 0L) return
      val aMass = aMass0
      val nullTok = lit(null).cast("string")
      val nullId = lit(null).cast("long")
      import spark.implicits._
      // split the batch vocabulary by BASE-vocab membership NOW
      // (one broadcast-semi probe of the bucketed vocab — a narrow
      // batch-cost scan, paid once per append): tokens already in
      // the base vocab record as `dfinc` adjustments its serving
      // leg overlays in place, brand-new tokens as `dfnew` rows
      // that serve from the broadcastable small leg — the split
      // that lets readIndexTables keep the vocab side of every
      // probe exchange-free (see Bm25Index.dfSplit)
      val bdf = slice.groupBy("token").agg(count(lit(1)).as("n"))
      Partitioning.recoverSwap(spark, s"${name}_vocab")
      val existTok = spark.table(s"${name}_vocab").select("token")
        .join(broadcast(bdf.select("token")), Seq("token"),
          "left_semi")
      val rows = bdf
        .join(broadcast(existTok), Seq("token"), "left_semi")
        .select(lit("dfinc").as("kind"), nullId.as("id"),
          col("token"), col("n"))
        .unionByName(bdf
          .join(broadcast(existTok), Seq("token"), "left_anti")
          .select(lit("dfnew").as("kind"), nullId.as("id"),
            col("token"), col("n")))
        .unionByName(slice.groupBy("doc_id").agg(sum("tf").as("n"))
          .select(lit("dladd").as("kind"), col("doc_id").as("id"),
            nullTok.as("token"), col("n")))
        .unionByName(Seq(("scal_docs_add", aDocs),
            ("scal_mass_add", aMass)).toDF("kind", "n")
          .select(col("kind"), nullId.as("id"), nullTok.as("token"),
            col("n")))
        .unionByName(Seq(fp).toDF("token")
          .select(lit("applied").as("kind"), nullId.as("id"),
            col("token"), nullId.as("n")))
      // fresh table → stamped with the marker's generation (== the
      // artifacts', checked above); prior-carrying merge inherits it
      Partitioning.replaceTable(spark, dt,
        prior.fold(rows.unionByName(genRow(spark, mGen)))(
          _.unionByName(rows)))
    }
    spark.sql(s"DROP TABLE IF EXISTS $mk")
  }

  /** Reload a [[writeIndexTables]] bundle by name — lazy bucketed
    * scans plus the 1-row scalar collect, probe-parity-identical to
    * the in-session index (spec-pinned, along with the probe plan
    * having strictly fewer exchanges than the plain-parquet form).
    * A reader arriving inside a crashed append's window (postings
    * committed, delta unmerged, marker pending) serves the
    * consistent PRE-APPEND view — the pending docs are invisible to
    * ranking (no doclen rows yet, and the probe's dl lookup is what
    * admits a doc) — and the next WRITER operation converges it via
    * [[finishPendingAppend]]; readers deliberately do not (see its
    * writer-only contract: a reader racing the in-flight postings
    * commit could fingerprint a partial slice). */
  def readIndexTables(spark: org.apache.spark.sql.SparkSession,
                      name: String): Bm25Index = {
    Partitioning.recoverSwap(spark, s"${name}_scalars")
    // a fold in flight (or crashed mid-derive) leaves the bundle
    // MIXED-GENERATION: postings already folded, derived artifacts
    // somewhere between old and new, old-gen deltas still reading as
    // valid against the old-gen scalars. No table combination is
    // consistent in that window, so serve the one thing that IS
    // truth — an in-memory derive from the folded postings (deltas
    // ignored: the fold's source had them applied). Costs one
    // postings aggregate, only inside the fold window; the next
    // maintenance WRITE converges the tables ([[finishPendingFold]]).
    if (foldInProgress(spark, name)) {
      Partitioning.recoverSwap(spark, s"${name}_postings")
      val tf = Partitioning.bucketed(spark, s"${name}_postings")
      val (nd, sd) = corpusScalars(tf)
      return Bm25Index(tf, vocabOf(tf), docLengths(tf), nd, sd)
    }
    val sc = spark.table(s"${name}_scalars")
      .select("n_docs", "sum_dl").collect()(0)
    val base = Bm25Index(
      Partitioning.bucketed(spark, s"${name}_postings"),
      Partitioning.bucketed(spark, s"${name}_vocab"),
      Partitioning.bucketed(spark, s"${name}_doclen"),
      sc.getLong(0), sc.getLong(1))
    // [[validDeltas]]: a stale (pre-fold) deltas table reads as
    // absent — the folded artifacts already contain its arithmetic,
    // and applying it again double-counts (the crashed-fold window
    // the generation stamp exists to close)
    validDeltas(spark, name) match {
      case None => base
      case Some(d) =>
        applyDeltas(base, d)
    }
  }

  /** Apply a generation-valid deltas table — BOTH signs: tombstoned
    * docs leave tf/dl via BROADCAST anti-joins (the delete gate's row
    * cap bounds the broadcast), appended docs' doclen rows union in
    * (their postings are already physically in tf — the append
    * writes postings eagerly, artifacts lazily), per-token df nets
    * the precomputed increments minus decrements (full-outer: a
    * batch can introduce brand-new vocabulary), and the scalars
    * add/subtract the recorded masses — all exact integer
    * arithmetic, so the served view is bit-identical to the
    * compacted index (spec-pinned against a union rebuild). */
  private def applyDeltas(base: Bm25Index, d: DataFrame): Bm25Index = {
    {
      val tombs = d.filter(col("kind") === "tomb")
        .select(col("id").as("doc_id"))
      // per-token net adjustment, split by the newness the append
      // path recorded: a token with any `dfnew` row was absent from
      // the base vocab when it first appended (membership is static
      // until compaction, which drops the deltas), so it serves from
      // the small leg; `dfdec` rows subtract on whichever leg their
      // token lives (a tombstoned delta-appended doc decrements its
      // dfnew tokens here)
      val adj = d.filter(col("kind").isin("dfinc", "dfdec", "dfnew"))
        .groupBy("token")
        .agg(sum(when(col("kind") === "dfdec", -col("n"))
          .otherwise(col("n"))).as("__net"),
          max((col("kind") === "dfnew").cast("int")).as("__isnew"))
      val dfBig = base.df
        .join(broadcast(adj.filter(col("__isnew") === 0)
          .select(col("token"), col("__net"))), Seq("token"), "left")
        .select(col("token"),
          (col("df") + coalesce(col("__net"), lit(0L))).as("df"))
        .filter(col("df") > 0) // broadcast-left preserves bucketing
      val dfNew = adj.filter(col("__isnew") === 1)
        .select(col("token"), col("__net").as("df"))
        .filter(col("df") > 0)
      // dladd docs are never tombstoned un-compacted (the append path
      // compacts on overlap) EXCEPT by a later removeDocsDeferred —
      // whose tombs must mask them here just like base docs
      val dladd = d.filter(col("kind") === "dladd")
        .select(col("id").as("doc_id"), col("n").as("dl"))
        .join(broadcast(tombs), Seq("doc_id"), "left_anti")
      val dlBig = base.dl.join(broadcast(tombs), Seq("doc_id"),
        "left_anti") // broadcast anti preserves the bucket layout
      val scal = d.filter(col("kind").startsWith("scal_"))
        .groupBy("kind").agg(sum("n").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      Bm25Index(
        base.tf.join(broadcast(tombs), Seq("doc_id"), "left_anti"),
        dfBig.unionByName(dfNew),
        dlBig.unionByName(dladd),
        base.nDocs + scal.getOrElse("scal_docs_add", 0L) -
          scal.getOrElse("scal_docs", 0L),
        base.sumDl + scal.getOrElse("scal_mass_add", 0L) -
          scal.getOrElse("scal_mass", 0L),
        dlSplit = Some((dlBig, dladd)),
        dfSplit = Some((dfBig, dfNew)))
    }
  }

  /** DEFERRED delete for the serving-table bundle — the shape the
    * rewrite-per-takedown faces name as the 100 TB escape (r14
    * verdict "What's missing" #2): instead of re-installing four
    * tables per takedown batch ([[removeDocs]] → [[writeIndexTables]]),
    * the batch lands as ONE atomic staged swap of a delete-delta
    * table `<name>_deltas` holding (a) the tombstoned doc_ids, (b)
    * the per-token df decrements, (c) the nDocs/Σdl decrements — the
    * exact quantities [[removeDocs]] computes, precomputed here from
    * the removed slice so [[readIndexTables]] can serve the deleted
    * view with two broadcast anti-joins and a small vocab join,
    * NEVER a probe-time re-aggregation. Because every decrement is
    * computed against the LIVE view (prior deltas applied) and ids
    * already tombstoned or never indexed are excluded, the install
    * is idempotent and the served index stays bit-identical to a
    * rebuild on the survivors (SimilaritySpec pins probe, df-map and
    * scalar parity against [[buildIndex]] on the remainder).
    *
    * Cost per batch: one scan of the postings table (the semi-join
    * that extracts the removed slice — no shuffle of the corpus; the
    * aggregate is bounded by the removed docs' posting mass) plus
    * the small-table swap. The COMPACTION GATE bounds how far the
    * deltas may grow before the physical rewrite is finally paid:
    * tombstones ≥ min(compactFraction · n_docs, maxTombstones) →
    * [[compactIndexTables]]; the absolute cap keeps the read-side
    * anti-join broadcastable regardless of corpus size. Returns true
    * when compaction ran. */
  def removeDocsDeferred(spark: org.apache.spark.sql.SparkSession,
                         name: String, ids: DataFrame,
                         compactFraction: Double = 0.05,
                         maxTombstones: Long = 1000000L): Boolean = {
    val dt = s"${name}_deltas"
    // writer path: converge a crashed fold, then a crashed append —
    // a mid-derive crash leaves mixed-generation artifacts that every
    // read below would mis-mix, and a victim among pending-append
    // docs is invisible to live.dl until the append merge runs (the
    // takedown would no-op and the later convergence resurrect it)
    finishPendingFold(spark, name)
    finishPendingAppend(spark, name)
    val live = readIndexTables(spark, name) // prior deltas applied
    // live victims only: already-tombstoned or never-indexed ids must
    // neither decrement again nor inflate the compaction gate — in
    // the doclen-never-shuffles probe shape ([[Partitioning.keysInBig]];
    // the naive `ids ⋉ dl` would shuffle the |docs|-row relation per
    // takedown batch)
    val rm = Partitioning.keysInBig(ids, live.dl, "doc_id")
    val removed = live.tf.join(broadcast(rm), Seq("doc_id"), "left_semi")
    val batchDec = removed.groupBy("token")
      .agg(count(lit(1)).as("n"))
    val (dDocs, dMass) = corpusScalars(removed)
    // merge with any prior delta, shaped into the union-schema rows;
    // a stale (pre-fold) prior reads as absent and is REPLACED
    // wholesale below — its arithmetic already lives in the folded
    // artifacts ([[foldGen]])
    val prior: Option[DataFrame] = validDeltas(spark, name)
    val priorTombs = prior.map(_.filter(col("kind") === "tomb")
      .select(col("id").as("doc_id")))
    val priorDec = prior.map(_.filter(col("kind") === "dfdec")
      .select(col("token"), col("n")))
    val priorScal = prior.map(
      _.filter(col("kind").isin("scal_docs", "scal_mass"))
        .select("kind", "n").collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap)
      .getOrElse(Map.empty[String, Long])
    // APPEND-side delta rows (dfinc/dladd/scal_*_add/applied — the
    // appendIndexTables machinery) pass through the rewrite untouched:
    // this face consolidates only the delete-side kinds it owns
    val priorOther = prior.map(_.filter(!col("kind").isin(
      "tomb", "dfdec", "scal_docs", "scal_mass")))
    val allTombs = priorTombs.fold(rm)(_.unionByName(rm).distinct())
    val allDec = priorDec.fold(batchDec) { p =>
      p.withColumnRenamed("n", "__a")
        .join(batchDec.withColumnRenamed("n", "__b"),
          Seq("token"), "full_outer")
        .select(col("token"), (coalesce(col("__a"), lit(0L)) +
          coalesce(col("__b"), lit(0L))).as("n"))
    }
    import spark.implicits._
    val nullTok = lit(null).cast("string")
    val nullId = lit(null).cast("long")
    val deltas = allTombs
      .select(lit("tomb").as("kind"), col("doc_id").as("id"),
        nullTok.as("token"), nullId.as("n"))
      .unionByName(allDec.select(lit("dfdec").as("kind"),
        nullId.as("id"), col("token"),
        col("n").cast("long").as("n")))
      .unionByName(Seq(
        ("scal_docs", priorScal.getOrElse("scal_docs", 0L) + dDocs),
        ("scal_mass", priorScal.getOrElse("scal_mass", 0L) + dMass))
        .toDF("kind", "n")
        .select(col("kind"), nullId.as("id"), nullTok.as("token"),
          col("n")))
    // a fresh table (no valid prior) carries its generation stamp; a
    // prior-carrying rewrite inherits the row through priorOther
    Partitioning.replaceTable(spark, dt,
      priorOther.fold(
        deltas.unionByName(genRow(spark, foldGen(spark, name))))(
        o => deltas.unionByName(o)))
    val nTomb = spark.table(dt).filter(col("kind") === "tomb").count()
    val threshold = math.max(1L, math.min(
      (compactFraction * (live.nDocs - dDocs)).toLong, maxTombstones))
    if (nTomb >= threshold) { compactIndexTables(spark, name); true }
    else false
  }

  /** Fold the pending delete-delta into the physical bundle: one
    * [[readIndexTables]] (deltas applied) → [[writeIndexTables]]
    * rewrite at the catalog's existing bucket count, which ends by
    * dropping the delta table. Convergent after a crash at any
    * instant because writeIndexTables re-derives every artifact from
    * its postings install (see its scaladoc). */
  def compactIndexTables(spark: org.apache.spark.sql.SparkSession,
                         name: String): Unit = {
    // converge a postings swap that crashed in the unbound-name window
    // BEFORE the metadata lookup — without that, the recovery re-run
    // dies on NoSuchTableException instead of converging (ADVICE r15).
    // A spec-less legacy bundle compacts INTO the default bucketing
    // (writeIndexTables' default) rather than failing, so bucketSpecOf's
    // throw is deliberately not used here.
    Partitioning.recoverSwap(spark, s"${name}_postings")
    // writer path: converge a crashed fold, then a crashed append,
    // before folding — the readIndexTables below must not serve the
    // mixed-generation window, and the rebuild derives artifacts from
    // the postings install (pending docs included), so merging first
    // keeps one invariant ("a marker's docs are unaccounted")
    finishPendingFold(spark, name)
    finishPendingAppend(spark, name)
    // PARSE the identifier (the bucketSpecOf stance): a raw
    // TableIdentifier("db.tbl_postings") would look up a single-part
    // name in the current database and kill the first gate-triggered
    // compaction of any db-qualified bundle with NoSuchTableException
    val buckets = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser
        .parseTableIdentifier(s"${name}_postings"))
      .bucketSpec.map(_.numBuckets).getOrElse(16)
    writeIndexTables(readIndexTables(spark, name), name, buckets)
  }

  /** The probe against a prebuilt/appended index — arithmetic
    * identical to the full-rebuild `bm25Ranked` (exact-rational
    * Okapi k1=1.2 b=0.75, whole-bit floor-log2 idf, df·dfCapDen ≤ N
    * impact pruning, ties to doc_id), with the corpus stats taken
    * from the index SCALARS instead of a 1-row aggregate — the
    * serving shape: stats are literals in the plan, the query batch
    * equi-joins the vocabulary then the postings on the TERM key,
    * and doc lengths come from the bundle's MAINTAINED `dl` table
    * (a |docs|-row equi-join on the candidates), never a probe-time
    * re-aggregation of the full postings — the corpus-sized cost
    * that would otherwise hide inside every query batch. Per-query
    * cost is therefore Σ posting-list length over its terms plus the
    * candidate dl lookups, never |postings|. SimilaritySpec pins
    * output equality with the full-rebuild scorer on the union
    * corpus. */
  def rankedFromIndex(idx: Bm25Index, queryDocs: DataFrame,
                      dfCapDen: Int = 20, k: Int = 10): DataFrame = {
    require(idx.nDocs > 0, "empty index")
    val avgdlM = (1000L * idx.sumDl) / idx.nDocs
    val qtok = queryDocs
      .select(col("doc_id").as("q_id"), split(col("text"), " ").as("__l"))
      .select(col("q_id"),
        explode(array_distinct(expr(GramsOf))).as("token"))
    // vocabulary lookup: with a [[Bm25Index.dfSplit]] the new-token
    // leg (delta-bounded) overlays as a BROADCAST coalesce — the
    // bucketed vocab side never exchanges, so the delta-served probe
    // keeps the compacted bundle's plan shape on the index side. The
    // isNotNull filter restores the inner-join semantics: the legs'
    // token sets are disjoint and union to the full vocabulary.
    val withDf = idx.dfSplit match {
      case None => qtok.join(idx.df, "token")
      case Some((big, small)) => qtok
        .join(big, Seq("token"), "left")
        .join(broadcast(small.withColumnRenamed("df", "__dfs")),
          Seq("token"), "left")
        .withColumn("df", coalesce(col("df"), col("__dfs")))
        .filter(col("df").isNotNull).drop("__dfs")
    }
    val qterms = withDf
      .withColumn("idf_b", expr(
        s"length(bin((2*${idx.nDocs}L - 2*df + 1) div (2*df + 1))) - 1"))
      .filter(col("df") * dfCapDen <= lit(idx.nDocs))
      .select("q_id", "token", "idf_b")
    val hits = qterms.join(idx.tf, "token")
      .filter(col("doc_id") =!= col("q_id"))
    // doclen lookup: with a [[Bm25Index.dlSplit]] the small leg
    // (delta-bounded) overlays as a BROADCAST coalesce instead of a
    // union — the bucketed big leg never exchanges, so the
    // delta-served probe plans exactly like the compacted bundle's
    // (spec-pinned). The isNotNull filter restores the inner-join
    // semantics bit-for-bit: the legs' doc sets are disjoint and
    // their union is the full dl relation.
    val withDl = idx.dlSplit match {
      case None => hits.join(idx.dl, "doc_id")
      case Some((big, small)) => hits
        .join(big, Seq("doc_id"), "left")
        .join(broadcast(small.withColumnRenamed("dl", "__dls")),
          Seq("doc_id"), "left")
        .withColumn("dl", coalesce(col("dl"), col("__dls")))
        .filter(col("dl").isNotNull).drop("__dls")
    }
    // ONE exchange for the whole scoring tail (r20, the bm25_probe
    // datapath ask): hash-partitioning the hits by q_id alone
    // satisfies BOTH the (q_id, doc_id) aggregation's clustered
    // distribution (a subset partitioning co-locates every pair) and
    // the top-k window's q_id distribution, so the plan carries one
    // exchange where groupBy-then-window paid two back to back.
    // The trade, stated honestly: the per-query serial set GROWS
    // from the post-aggregation (q, doc) rows (which the window
    // always serialized through one task) to the raw term-level
    // hits, i.e. by the per-pair term multiplicity, and the first
    // shuffle loses its map-side combine by the same factor. Both
    // are bounded: the df-cap prune caps every surviving term's
    // posting list at nDocs/dfCapDen, and a query shares only a few
    // pruned terms with any one doc. For a BATCH of queries (the
    // serving shape this probe exists for) the exchange saved
    // dominates; a single-query probe pays a somewhat longer
    // one-task tail it already had in kind at the window.
    val scored = withDl
      .withColumn("contrib", expr(
        s"(idf_b * 22000 * tf * ${avgdlM}L) div " +
          s"(10 * ${avgdlM}L * tf + 3 * ${avgdlM}L + 9000 * dl)"))
      .repartition(col("q_id"))
      .groupBy("q_id", "doc_id")
      .agg(sum("contrib").as("score_milli"),
        count(lit(1)).as("n_terms"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("score_milli").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("q_id", "rnk", "doc_id", "score_milli", "n_terms")
  }
}
