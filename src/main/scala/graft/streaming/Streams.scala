package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming face of the engine — SURVEY.md §2.10.
  *
  * The reference's incremental job is a cron-driven micro-batch with a
  * 5-day watermark column filter (jonesy/jobs.py:19,39-49); the engine
  * runs it that way, as the `upload_recent_refresh` batch job. This
  * object keeps the stateless and built-in-state stream shapes: the
  * SAME transform runs over a batch DataFrame or a `readStream`
  * source, and the watermark bounds the windowed-count, dedup and
  * join state instead of re-extraction. The admission gates are
  * per-row maps over the batch faces' kernels, with no state store.
  * No `graft.Main` job runs a stream; StreamsSpec drives these.
  *
  * Scale stance: windowed counts shuffle on (window, event_type) with
  * partial aggregation map-side; dedup state is bounded by the
  * watermark.
  */
object Streams {

  /** Event row shaped like the `events` table. */
  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)

  /** T1/T5 — watermarked tumbling-window counts. Works identically on a
    * batch DataFrame (watermark is a no-op) and a streaming one (state
    * for windows older than 5 days is dropped; late rows inside the
    * allowance still merge — the reference's lookback contract). Mirrors
    * the batch query `ev_window_agg` so the two faces are comparable. */
  def windowedEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "5 days")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n_events"), col("value_cents"))

  /** Streaming exact dedup — the stream face of `dd_exact`: drop rows
    * whose key was already seen, with the watermark bounding the
    * dedup-state retention to the late-data allowance (without it,
    * seen-keys state grows forever — the 100 TB failure mode).
    * `dropDuplicatesWithinWatermark` keys on the KEY ALONE — a
    * redelivered event whose timestamp was re-stamped in transit
    * (broker/ingest-assigned time differs on retry) is still the same
    * event, exactly as the batch face dedups on the fingerprint alone
    * — while the watermark expires seen-key state; appending `ts` to
    * the key (the pre-3.5 `dropDuplicates` state-eviction workaround)
    * would let every re-stamped redelivery through. */
  def streamingDedup(events: DataFrame,
                     keyCols: Seq[String] = Seq("event_id")): DataFrame =
    events
      .withWatermark("ts", "5 days")
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming NEAR-dedup — the stream face of the SimHash batch
    * family: each arriving document gets its packed fingerprint from
    * the shuffle-free per-row form (`TextDedup.withSimhashInt`, the
    * native `simhash_long` expression), and documents whose
    * fingerprint was already seen inside the watermark are dropped.
    * Same-fingerprint ≈ near-identical text (all 32 bit-votes agree),
    * so this is the d=0 tier of streaming near-dedup; the d≥1 tiers
    * stay batch jobs (`dd_simhash_hamming*`), where the variant join
    * is cheap — the right split for a 100 TB ingest pipeline: cheap
    * fingerprint dedup inline on the stream, deeper passes downstream.
    * Expects (ts, `textCol`) columns; watermark bounds seen-state.
    * `dropDuplicatesWithinWatermark` keys on the fingerprint ALONE —
    * a later doc with the same fingerprint but a different timestamp
    * is still a duplicate — while letting the watermark expire
    * seen-fingerprint state. */
  def streamingNearDedup(docs: DataFrame,
                         textCol: String = "text"): DataFrame =
    graft.operators.TextDedup.withSimhashInt(docs, 32, textCol)
      .withWatermark("ts", "5 days")
      .dropDuplicatesWithinWatermark(Seq("simhash_int"))

  /** Streaming canonical-URL dedup — the stream face of
    * `dd_url_dedup`, and the FIRST gate of a streaming crawl ingest
    * (before fingerprint near-dedup and the decontamination probe):
    * each arriving URL is canonicalized by the stateless
    * `UrlCanon.canonicalize` kernel — the exact rule the batch face
    * certifies, idempotence property-pinned — and re-crawls of the
    * same canonical page inside the watermark are dropped.
    * `dropDuplicatesWithinWatermark` keys on the canonical form
    * ALONE (a later crawl of the same page at a new timestamp is
    * still a duplicate) while the watermark expires seen-URL state —
    * the same retention contract as [[streamingNearDedup]]. Expects
    * (ts, `urlCol`) columns; emits the input plus `canon_url`. */
  def streamingUrlDedup(pages: DataFrame,
                        urlCol: String = "url"): DataFrame =
    pages
      .withColumn("canon_url",
        graft.operators.UrlCanon.canonicalize(col(urlCol)))
      .withWatermark("ts", "5 days")
      .dropDuplicatesWithinWatermark(Seq("canon_url"))

  /** Streaming Gopher admission gate — the stream face of
    * `ta_gopher_rules`: every arriving document is scored in-row by
    * the ZERO-SHUFFLE native rule kernel
    * ([[graft.operators.GopherRules.withMetricsNative]], the fused
    * `gopher_stats` run-length expression) and only documents
    * passing the full published gate survive; the metric diagnostics
    * are dropped, input columns pass through. Stateless (no state
    * store, no watermark), the same admission-filter family as
    * [[streamingClassifierGate]] / [[streamingDecontaminationGate]] /
    * [[streamingPiiScrub]] and composable with all of them —
    * batch-verdict parity is pinned in StreamsSpec. */
  def streamingGopherGate(docs: DataFrame,
                          textCol: String = "text"): DataFrame = {
    val scored =
      graft.operators.GopherRules.withMetricsNative(docs, textCol)
    scored.filter(col("keep") === 1L).select(docs.columns.map(col): _*)
  }

  /** Streaming decontamination gate — the stream face of
    * `dd_decontaminate_bloom`: documents arriving on the stream are
    * checked against a Bloom filter of the eval corpus's gram hashes
    * and only CLEAN documents (no probable eval overlap) pass. The
    * filter bytes ride the closure as a broadcast-sized literal and
    * the probe is a stateless narrow map — no watermark, no state
    * store, identical per-row cost to the batch gate — which is the
    * point: ingest-time filtering at stream rate, with the exact
    * (batch) decontamination report downstream for the ~fpp of false
    * drops a pipeline can reclaim later. A doc is dropped if ANY of
    * its 6-grams probes positive; docs too short for one 6-gram —
    * including empty and NULL text, where `exists` yields NULL —
    * always pass. Tokenization runs ONCE per row into a helper
    * column (the batch-side kShingles shape); building grams from it
    * keeps per-row cost linear in tokens, not grams × tokens. */
  def streamingDecontaminationGate(docs: DataFrame,
                                   filterBytes: Array[Byte],
                                   textCol: String = "text"): DataFrame = {
    val grams = expr(
      """transform(
           slice(__toks, 1, greatest(size(__toks) - 5, 0)),
           (x, i) -> xxhash64(array_join(slice(__toks, i + 1, 6), ' ')))""")
    docs.withColumn("__toks", split(col(textCol), " "))
      .filter(!coalesce(exists(grams, h =>
        graft.operators.Bloom.gateLong(docs.sparkSession, filterBytes, h)),
        lit(false)))
      .drop("__toks")
  }

  /** Streaming PII scrub — the ingest-time face of `ta_pii_redact`:
    * every arriving document gets per-class audit counts and the
    * redacted text BEFORE anything lands in the lake, so raw PII
    * never touches storage. Delegates to [[graft.operators.Pii]] —
    * the identical expressions the batch catalog query runs, so a
    * batch backfill and the live stream can never disagree on what
    * was scrubbed. Stateless (pure per-row regex map): no state
    * store, no watermark, safe at any stream rate. */
  def streamingPiiScrub(docs: DataFrame,
                        textCol: String = "text"): DataFrame =
    graft.operators.Pii.withScrub(docs, textCol)

  /** Streaming classifier admission gate — the ingest-time face of
    * `ta_classifier_score`: every arriving document is scored by the
    * shared [[graft.operators.QualityModel]] kernel (one per-row
    * fold over its tokens — the batch face's two-level aggregation
    * flattened, equality pinned in EdgeCaseSpec) and only positive-
    * logit documents pass. Stateless (pure per-row expression): no
    * state store, no watermark, safe at any stream rate — the same
    * admission-filter family as [[streamingDecontaminationGate]] and
    * [[streamingPiiScrub]], composable with both. */
  def streamingClassifierGate(docs: DataFrame,
                              textCol: String = "text"): DataFrame =
    docs.filter(
      coalesce(graft.operators.QualityModel.logitOf(col(textCol)),
        lit(0L)) > 0)

  /** Stream-stream join: each interaction event paired with error
    * events by the same user in the preceding `lookbackMinutes`. Both
    * sides carry watermarks and the join condition is time-bounded, so
    * buffered state is evictable — the only shape a stream-stream join
    * can hold at scale (unbounded conditions buffer forever). */
  def joinErrorsWithin(interactions: DataFrame, errors: DataFrame,
                       lookbackMinutes: Int = 10): DataFrame = {
    val i = interactions.withWatermark("ts", "1 hour").alias("i")
    val e = errors.withWatermark("ts", "1 hour").alias("e")
    i.join(e, expr(
      s"""i.user_id = e.user_id AND
          e.ts BETWEEN i.ts - INTERVAL $lookbackMinutes MINUTES
                   AND i.ts"""))
      .select(col("i.event_id").as("event_id"),
        col("i.user_id").as("user_id"),
        col("i.ts").as("ts"), col("e.ts").as("error_ts"))
  }

  /** Streaming IVF cell assignment — the SERVING path of
    * `ss_ivf_append` when crawl batches arrive as a stream: each
    * arriving embedding is assigned to its cell against the FROZEN
    * serving centroids via the same literal-centroid narrow argmax as
    * the batch face (`Ann.ivfAssign` — stateless, zero shuffle, no
    * state store), so it composes with watermarks, dropDuplicates,
    * and any downstream stateful op. Retraining stays a gated BATCH
    * decision — the `ss_ivf_append` report over the accumulated
    * corpus — after which the query restarts with the new centroid
    * literals (the standard serve-frozen / retrain-offline split).
    * Batch parity is definitional (one expression tree, no state) and
    * pinned across batch splits in StreamsSpec. */
  def streamingIvfAssign(emb: DataFrame,
                         cents: Array[(Long, Array[Float])],
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    graft.GraftExtensions.ensure(emb.sparkSession)
    graft.operators.Ann.ivfAssign(emb, cents, idCol, vecCol)
  }

  /** Streaming fan-out — the reference's multi-target S3 sink
    * (SURVEY.md S5) on the streaming face: every micro-batch is written
    * gzip-CSV to each target under a per-batch key via `foreachBatch`,
    * keeping the per-target error isolation of `Sinks.fanOut`.
    * Checkpointing makes redelivery idempotent-by-path (T6). */
  def startFanOutQuery(source: DataFrame, targets: Seq[String],
                       prefix: String, checkpoint: String) =
    source.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // stage under the checkpoint location: it is contractually
        // visible to driver AND executors on any master, which is
        // exactly what fanOut's multi-target staging write needs
        graft.jobs.Sinks.fanOut(batch, targets,
          s"$prefix/batch-$batchId.gz",
          staging = Some(s"$checkpoint/fanout-staging"))
        ()
      }
      .start()

  /** Wire a streaming source of events shaped like the `events` table
    * into the windowed aggregation and a memory sink — the
    * readStream → transform → writeStream lifecycle in one place.
    * Complete mode: the sink holds the full windowed rollup — which
    * also means the watermark CANNOT evict window state (Complete
    * must re-emit every window each trigger) and the driver-side
    * memory sink re-materializes the whole rollup per batch. That is
    * the demo/inspection contract this helper exists for, NOT a
    * production shape: a long-lived deployment runs
    * [[windowedEventCounts]] under Append/Update to a real sink,
    * where the 5-day watermark bounds state exactly as the header
    * describes. */
  def startWindowedQuery(source: DataFrame, queryName: String) =
    windowedEventCounts(source)
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(OutputMode.Complete)
      .start()
}
