package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, QueryModule}
import graft.sources.Tables

/** Event-stream operators over the `events` table — the reference's
  * incremental/CDC semantics (SURVEY.md §2.10 T1–T3) plus the
  * stream-shaped extensions (§2.12): JSON property extraction, tumbling
  * windows, and an as-of join.
  *
  * Scale stance (100 TB): every query is a single scan plus at most one
  * shuffle — on the window/group key or on `user_id` for the as-of
  * window. The as-of join is expressed as a running `last(_, ignoreNulls)`
  * window rather than a join at all, so there is no build side to blow up
  * and skewed users degrade to one partition's sort, not a cross product.
  * The watermark cutoff is computed as a 1-row aggregate attached by
  * broadcast cross-join — one DAG, no driver round-trip.
  */
object Events extends QueryModule {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")

  /** T2/P5 — CDC event-type filter: the reference extracts creates and
    * updates only (`change_type IN ('C','U')`, jonesy/queries.py:146);
    * here the analog keeps interaction events and drops the 'error'
    * (delete-analog) stream. */
  val cdcFilter: Q = Q(
    "ev_cdc_filter",
    (s, dir) =>
      ev(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy("event_id"),
    Some("""
      SELECT event_id, user_id, event_type
      FROM events WHERE event_type IN ('click', 'view')
      ORDER BY event_id""")
  )

  /** T1 — watermark incremental extraction (reference: jonesy/jobs.py:19,40
    * `cutoff = now − 5 days`; jonesy/queries.py:110,147
    * `last_updated >= cutoff`). The cutoff is anchored to max(ts) so the
    * query is deterministic across runs; the 5-day lookback IS the
    * late-data allowance (SURVEY.md §2.10). */
  val watermarkIncremental: Q = Q(
    "ev_watermark",
    (s, dir) => {
      val e = ev(s, dir)
      val hi = e.agg(max("ts").as("max_ts"))
      e.join(broadcast(hi))
        .filter(col("ts") >= col("max_ts") - expr("INTERVAL 5 DAYS"))
        .select(col("event_id"), col("ts"), col("event_type"))
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, ts, event_type
      FROM events
      WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 5 DAY
      ORDER BY event_id""")
  )

  /** F14 ext — JSON property extraction from the `props` column
    * (SURVEY.md §2.12): `get_json_object` is a codegen'd path expression,
    * not a UDF; the cast pins the comparison to exact integers. */
  val jsonExtract: Q = Q(
    "ev_json_extract",
    (s, dir) =>
      ev(s, dir)
        .select(
          col("event_id"),
          // gate the cast on a strict integer-literal match: under
          // Spark 4's ANSI default a bare cast of '1.5' THROWS, and
          // DuckDB's TRY_CAST of the same string ROUNDS to 2 — two
          // different wrong answers. Only what ^-?\d+$ admits is cast,
          // so "non-integral $.k drops the row" holds in both engines
          // instead of in neither (r20 review, probed). try_cast, not
          // cast: an integral literal BEYOND Long range passes the
          // regex, and a plain cast would overflow-throw in both
          // engines — the try form turns it into a dropped row.
          // Gate and cast FUSED through regexp_extract (r20 bench —
          // the when(rlike, try_cast) spelling evaluated
          // get_json_object twice per site, and the pushed-down
          // NOT-NULL filter duplicated both, so every kept row paid
          // FOUR JSON parses; the face read 2.4 s vs its 1.17 s
          // floor): a non-match extracts '' and an over-range literal
          // survives extraction, and try_cast maps both to NULL —
          // exactly the when-form's row set, one parse per site.
          // explode(array(·)) is a single-row generator wrapped
          // around the value so the NOT-NULL filter CANNOT be
          // alias-substituted below it (predicates never push through
          // a Generate on its output): the JSON parse runs exactly
          // once per input row instead of once in the pushed filter
          // plus once in the project.
          explode(array(
            expr("try_cast(regexp_extract(get_json_object(props, '$.k')," +
              " '^(-?\\\\d+)$', 1) AS long)"))).as("k_val"))
        .filter(col("k_val").isNotNull)
        .orderBy("event_id"),
    Some("""
      SELECT event_id,
             TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
               AS k_val
      FROM events
      -- same integer-literal gate as the Spark face: a bare TRY_CAST
      -- would keep a non-integral $.k by rounding it ('1.5' -> 2),
      -- but behind the regex gate it only sees integral literals —
      -- where it exists to turn an over-Long-range literal into a
      -- dropped row instead of a query-killing overflow (r20 review)
      WHERE regexp_matches(json_extract_string(props, '$.k'),
              '^-?\d+$')
        AND TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
              IS NOT NULL
      ORDER BY event_id""")
  )

  /** T5 ext — tumbling 1-hour window aggregation (`window(ts,
    * "1 hour")`), run as one batch plan like every face. Value sums
    * are exact integer cents — double sums are order-dependent across
    * partitions (see Joins.starJoin). */
  val windowAgg: Q = Q(
    "ev_window_agg",
    (s, dir) =>
      ev(s, dir)
        .groupBy(
          window(col("ts"), "1 hour").as("w"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
        .select(col("w.start").as("hour_start"), col("event_type"),
          col("n_events"), col("value_cents"))
        .orderBy("hour_start", "event_type"),
    Some("""
      SELECT date_trunc('hour', ts) AS hour_start, event_type,
             count(*) AS n_events,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  /** As-of join (§2.12 / SURVEY.md J8): for every event, the most recent
    * 'error' event timestamp by the same user at-or-before it. Expressed
    * as a running window (`last(_, ignoreNulls)` over rows up to current)
    * — one shuffle on user_id, no join, no range explosion; the DuckDB
    * oracle uses its native ASOF LEFT JOIN, proving the window rewrite
    * implements the canonical as-of semantics. */
  val asofJoin: Q = Q(
    "ev_asof_join",
    (s, dir) => {
      // default RANGE frame over ts alone (unbounded → current ROW's
      // ORDER VALUE): includes every same-timestamp row, which is
      // exactly the oracle ASOF's `e.ts >= r.ts` tie semantics — a
      // (ts, event_id) ROWS frame excluded a same-ts error with a
      // higher event_id that DuckDB's ASOF matches (r19 review)
      val w = Window.partitionBy("user_id").orderBy("ts")
      ev(s, dir)
        .withColumn("last_error_ts",
          last(when(col("event_type") === "error", col("ts")),
            ignoreNulls = true).over(w))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("last_error_ts"))
        .orderBy("event_id")
    },
    Some("""
      SELECT e.event_id, e.user_id, e.ts, e.event_type,
             r.ts AS last_error_ts
      FROM events e
      ASOF LEFT JOIN (SELECT user_id, ts FROM events
                      WHERE event_type = 'error') r
        ON e.user_id = r.user_id AND e.ts >= r.ts
      ORDER BY e.event_id""")
  )

  /** T5 ext — session windows: per-user activity sessions closed by a
    * 2-hour gap, via Spark's native `session_window` (state-store-backed
    * when streaming; one shuffle on user_id in batch). The DuckDB oracle
    * derives the same sessions with the classic gaps-and-islands window
    * SQL, proving the operator's semantics. `session_window.end` is
    * last-event + gap by definition, so the session end is reported as
    * the aggregated max(ts) on both sides. */
  val sessionWindow: Q = Q(
    "ev_session_window",
    (s, dir) =>
      ev(s, dir)
        .groupBy(session_window(col("ts"), "2 hours").as("w"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"), max("ts").as("last_ts"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("last_ts"), col("n_events"))
        .orderBy("user_id", "session_start"),
    Some("""
      WITH g AS (
        SELECT user_id, ts,
               -- strict > : probed on Spark 4.1.2 — session_window
               -- MERGES two events exactly gap apart (00:00 + 02:00
               -- at a 2h gap = ONE session; +1µs = two), i.e. the
               -- window extent [ts, ts+gap] is inclusive for merge
               -- purposes; >= here would split what Spark merges
               -- (r20 review, reverting the unprobed r19 flip)
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w > INTERVAL 2 HOUR
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      s AS (
        SELECT user_id, ts,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM g)
      SELECT user_id, min(ts) AS session_start, max(ts) AS last_ts,
             count(*) AS n_events
      FROM s GROUP BY user_id, sid
      ORDER BY user_id, session_start""")
  )

  /** T5 ext — SLIDING windows (1 hour every 30 minutes): each event
    * lands in exactly two windows; Spark's `window(ts, len, slide)`
    * expands them map-side before one shuffle. The oracle derives the
    * same two window starts per event (the 30-minute grid point and
    * the one before it) with unnest — proving the overlap semantics. */
  val slidingWindow: Q = Q(
    "ev_sliding_window",
    (s, dir) =>
      ev(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("w.start").as("win_start"), col("event_type"),
          col("n_events"))
        .orderBy("win_start", "event_type"),
    Some("""
      WITH expanded AS (
        SELECT event_type,
               -- make_timestamp(µs), NOT to_timestamp(s)::TIMESTAMP:
               -- to_timestamp returns TIMESTAMPTZ and the cast renders
               -- it in the DUCKDB SESSION TimeZone — a non-UTC driver
               -- environment would shift every win_start while Spark
               -- stays pinned to UTC (r19 review)
               unnest([make_timestamp(CAST(floor(epoch(ts) / 1800)
                         * 1800 * 1000000 AS BIGINT)),
                       make_timestamp(CAST(floor(epoch(ts) / 1800)
                         * 1800 * 1000000 AS BIGINT))
                         - INTERVAL 30 MINUTE]) AS win_start
        FROM events)
      SELECT win_start, event_type,
             count(*) AS n_events
      FROM expanded GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  /** §2.5 ext — analytic window functions beyond ranking: per-user
    * lag (seconds since previous event, exact integer µs→s division
    * avoided — emitted as microsecond longs), lead (next event type),
    * and first_value (the user's first event type). One shuffle on
    * user_id shared by all three. */
  val lagLead: Q = Q(
    "ev_lag_lead",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wAll = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      ev(s, dir)
        .select(
          col("event_id"), col("user_id"),
          (unix_micros(col("ts")) -
            unix_micros(lag(col("ts"), 1).over(w))).as("micros_since_prev"),
          lead(col("event_type"), 1).over(w).as("next_type"),
          first(col("event_type")).over(wAll).as("first_type"))
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, user_id,
             epoch_us(ts) - epoch_us(lag(ts, 1) OVER w)
               AS micros_since_prev,
             lead(event_type, 1) OVER w AS next_type,
             first_value(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS first_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY event_id""")
  )

  /** §2.5 ext — distribution window functions: ntile quartiles,
    * percent_rank, cume_dist over event values per type. All three are
    * exact small-integer ratios ((rank-1)/(n-1), pos/n) → bit-identical
    * doubles across engines, so they hash-oracle safely. */
  val rankStats: Q = Q(
    "ev_rank_stats",
    (s, dir) => {
      val w = Window.partitionBy("event_type")
        .orderBy(col("value"), col("event_id"))
      ev(s, dir)
        .select(
          col("event_id"), col("event_type"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, event_type,
             ntile(4) OVER w AS quartile,
             percent_rank() OVER w AS pct_rank,
             cume_dist() OVER w AS cume
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
      ORDER BY event_id""")
  )

  /** F9–F11 ext — calendar field extraction, with cross-engine
    * convention alignment: ISO day-of-week is computed explicitly
    * (Spark `dayofweek` is 1=Sunday, DuckDB `dow` is 0=Sunday;
    * `isodow`/a shifted formula agree on 1=Monday..7=Sunday). */
  val timeParts: Q = Q(
    "ev_time_parts",
    (s, dir) =>
      ev(s, dir)
        .select(
          col("event_id"),
          year(col("ts")).as("y"),
          month(col("ts")).as("m"),
          dayofmonth(col("ts")).as("d"),
          hour(col("ts")).as("h"),
          expr("((dayofweek(ts) + 5) % 7) + 1").as("iso_dow"),
          weekofyear(col("ts")).as("iso_week"))
        .orderBy("event_id"),
    Some("""
      SELECT event_id,
             year(ts) AS y, month(ts) AS m, day(ts) AS d, hour(ts) AS h,
             isodow(ts) AS iso_dow,
             CAST(week(ts) AS INT) AS iso_week
      FROM events ORDER BY event_id""")
  )

  /** Sequential funnel — signup → first view AFTER signup → first
    * purchase AFTER that view, per user, with the stage reached. The
    * order constraint is what makes it a funnel (a purchase before
    * the first post-signup view does not convert); each stage is one
    * per-type filtered aggregate joined on user_id, so every join key
    * is the user — three aggregations and joins sharing one hash
    * partitioning (exchange reuse), never a self-join on raw events.
    * LEFT joins keep stalled users; min() timestamps are exact. */
  val funnel: Q = Q(
    "ev_funnel",
    (s, dir) => {
      val e = ev(s, dir)
      val su = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts").as("signup_ts"))
      val vw = e.filter(col("event_type") === "view")
        .join(su, "user_id")
        .filter(col("ts") > col("signup_ts"))
        .groupBy("user_id").agg(min("ts").as("first_view_ts"))
      val pu = e.filter(col("event_type") === "purchase")
        .join(vw, "user_id")
        .filter(col("ts") > col("first_view_ts"))
        .groupBy("user_id").agg(min("ts").as("first_purchase_ts"))
      e.select("user_id").distinct()
        .join(su, Seq("user_id"), "left")
        .join(vw, Seq("user_id"), "left")
        .join(pu, Seq("user_id"), "left")
        .withColumn("stage",
          when(col("first_purchase_ts").isNotNull, 3)
            .when(col("first_view_ts").isNotNull, 2)
            .when(col("signup_ts").isNotNull, 1)
            .otherwise(0))
        .orderBy("user_id")
    },
    Some("""
      WITH s AS (
        SELECT user_id, min(ts) AS signup_ts
        FROM events WHERE event_type = 'signup' GROUP BY 1),
      v AS (
        SELECT e.user_id, min(e.ts) AS first_view_ts
        FROM events e JOIN s ON e.user_id = s.user_id
          AND e.ts > s.signup_ts
        WHERE e.event_type = 'view' GROUP BY 1),
      p AS (
        SELECT e.user_id, min(e.ts) AS first_purchase_ts
        FROM events e JOIN v ON e.user_id = v.user_id
          AND e.ts > v.first_view_ts
        WHERE e.event_type = 'purchase' GROUP BY 1),
      u AS (SELECT DISTINCT user_id FROM events)
      SELECT u.user_id, s.signup_ts, v.first_view_ts,
             p.first_purchase_ts,
             CASE WHEN p.user_id IS NOT NULL THEN 3
                  WHEN v.user_id IS NOT NULL THEN 2
                  WHEN s.user_id IS NOT NULL THEN 1
                  ELSE 0 END AS stage
      FROM u LEFT JOIN s USING (user_id)
             LEFT JOIN v USING (user_id)
             LEFT JOIN p USING (user_id)
      ORDER BY user_id""")
  )

  /** Cohort retention — users cohorted by the ISO week of their FIRST
    * event; for each (cohort, week offset), the distinct users active
    * that week. Two bounded aggregations (per-user first week, then
    * per-(cohort, offset) distinct count) joined on user_id — the
    * standard retention matrix, with week arithmetic kept to exact
    * multiples of 7 days so the offset division is exact in any
    * engine. */
  val retention: Q = Q(
    "ev_retention",
    (s, dir) => {
      val e = ev(s, dir)
        .withColumn("week", date_trunc("week", col("ts")))
      val cohorts = e.groupBy("user_id")
        .agg(min("week").as("cohort_week"))
      e.select("user_id", "week").distinct()
        .join(cohorts, "user_id")
        .withColumn("week_offset",
          (datediff(col("week"), col("cohort_week")) / 7).cast("long"))
        .groupBy("cohort_week", "week_offset")
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort_week", "week_offset")
    },
    Some("""
      WITH w AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS week
        FROM events),
      c AS (
        SELECT user_id, min(week) AS cohort_week FROM w GROUP BY 1)
      SELECT c.cohort_week,
             CAST(date_diff('day', c.cohort_week, w.week) / 7 AS BIGINT)
               AS week_offset,
             count(DISTINCT w.user_id) AS n_users
      FROM w JOIN c USING (user_id)
      GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  /** CDC MERGE (upsert + tombstone) — apply a change log to a snapshot
    * in one plan, the maintenance step behind the reference's
    * snapshot/incremental duality (SURVEY.md T3: `upload_snapshot`
    * rebuilds, `upload_recent_refresh` patches; jonesy/jobs.py:19,40).
    * The reference deliberately excludes deletes (queries.py:146,
    * `change_type IN ('C','U')`) — but every production CDC feed
    * carries them, so this face shows the COMPLETE pattern (r9 verdict
    * #2): the fixture's `error` events stand in for tombstones next to
    * `purchase` upserts (the events table has no change_type column;
    * the kind is derived from event_type, exactly how a feed without
    * an op column derives one).
    *
    * The change log is first reduced to the LATEST change per key —
    * `max(struct(ts, event_id, is_delete, value))` is a plain
    * aggregate, so the reduction gets map-side partial combine and one
    * shuffle, never a per-key window over raw events; (ts, event_id)
    * is a unique prefix so the argmax is deterministic and the
    * appended payload fields never influence the winner. The merge is
    * a single full-outer join on the key: matched-with-upsert → 'U'
    * (take the new value), matched-without-change → 'K' (keep),
    * unmatched upsert → 'I' (insert), matched-with-tombstone → 'D'
    * (balance nulled; the maintained snapshot is this result minus its
    * 'D' rows). A tombstone for an absent key is MERGE's
    * WHEN-NOT-MATCHED-AND-DELETE no-op and emits nothing. At 100 TB
    * both sides arrive hash-partitioned on the same key, so the whole
    * upsert is one reduction + one co-partitioned join — the standard
    * MERGE INTO plan without a table format. The snapshot is
    * restricted to keys < 100 so the insert, delete, and no-op
    * branches are all genuinely exercised (event users run 0..149). */
  val cdcMerge: Q = Q(
    "ev_cdc_merge",
    (s, dir) => {
      val snap = Tables(s, dir, "customer")
        .filter(col("c_custkey") < 100)
        .select(col("c_custkey").as("s_uid"),
          col("c_acctbal").as("balance"))
      val changes = ev(s, dir)
        .filter(col("event_type").isin("purchase", "error"))
        .groupBy("user_id")
        .agg(max(struct(col("ts"), col("event_id"),
          (col("event_type") === "error").as("is_delete"), col("value")))
          .as("last"))
        .select(col("user_id").as("c_uid"),
          col("last.is_delete").as("is_delete"),
          col("last.value").as("new_value"))
      snap.join(changes, col("s_uid") === col("c_uid"), "full_outer")
        .select(
          coalesce(col("s_uid"), col("c_uid")).as("user_id"),
          when(col("c_uid").isNull, "K")
            .when(col("is_delete") && col("s_uid").isNotNull, "D")
            .when(col("is_delete"), lit(null)) // tombstone, absent key
            .when(col("s_uid").isNull, "I")
            .otherwise("U").as("op"),
          when(col("is_delete"), lit(null).cast("double"))
            .otherwise(coalesce(col("new_value"), col("balance")))
            .as("balance"))
        .filter(col("op").isNotNull)
        .orderBy("user_id")
    },
    Some("""
      WITH snap AS (
        SELECT c_custkey AS user_id, c_acctbal AS balance
        FROM customer WHERE c_custkey < 100),
      changes AS (
        SELECT user_id, (event_type = 'error') AS is_delete,
               value AS new_value FROM (
          SELECT user_id, event_type, value,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
          FROM events WHERE event_type IN ('purchase', 'error'))
        WHERE rn = 1)
      SELECT user_id, op, balance FROM (
        SELECT COALESCE(s.user_id, c.user_id) AS user_id,
               CASE WHEN c.user_id IS NULL THEN 'K'
                    WHEN c.is_delete AND s.user_id IS NOT NULL THEN 'D'
                    WHEN c.is_delete THEN NULL
                    WHEN s.user_id IS NULL THEN 'I'
                    ELSE 'U' END AS op,
               CASE WHEN c.is_delete THEN NULL
                    ELSE COALESCE(c.new_value, s.balance) END AS balance
        FROM snap s FULL OUTER JOIN changes c ON s.user_id = c.user_id)
      WHERE op IS NOT NULL
      ORDER BY user_id""")
  )

  /** SKETCH × WINDOW composition — approximate distinct users per
    * 6-hour window and event type, the shape a 100 TB event stream
    * actually aggregates (an exact per-window countDistinct expands
    * per key; the HLL sketch is constant-space and mergeable across
    * partitions AND windows). Certified the rel_sketch_bound way: the
    * exact count rides along as the baseline, the sketch must land
    * within 15% relative OR 3 users absolute, whichever is looser —
    * deliberately wider than 3× the 2% rsd, because per-window groups
    * here are tens of users, the regime where HLL++ runs in linear-
    * counting mode and rsd-derived bounds don't apply (the absolute
    * slack covers the smallest windows outright) — and
    * the oracle pins that boolean TRUE
    * while replaying the exact count — so the approximate path is
    * hash-checked without requiring both engines' estimators to
    * agree. Windows are epoch-aligned integer buckets
    * (floor(epoch/21600)) — arithmetic both engines floor
    * identically, no timezone or bucket-origin semantics in play. */
  val windowUsers: Q = Q(
    "ev_window_users",
    (s, dir) =>
      ev(s, dir)
        .withColumn("bucket",
          (floor(unix_timestamp(col("ts")) / 21600) * 21600).cast("long"))
        .groupBy("bucket", "event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), rsd = 0.02).as("approx"))
        .select(col("bucket"), col("event_type"), col("n_events"),
          col("exact_users"),
          (abs(col("approx") - col("exact_users")) <=
            greatest(col("exact_users") * 0.15, lit(3.0)))
            .as("within_bound"))
        .orderBy("bucket", "event_type"),
    Some("""
      SELECT CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS bucket,
             event_type, count(*) AS n_events,
             count(DISTINCT user_id) AS exact_users,
             TRUE AS within_bound
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  /** The 100 TB shape [[windowUsers]]'s doc promises: the SAME windowed
    * distinct-users aggregate with the exact rider DROPPED. The
    * certification face's `countDistinct` plans a partial aggregate
    * keyed by (bucket, type, user_id) — one hash-table entry per
    * distinct user per window, per-key state that is exactly what one
    * does NOT carry at scale (with several distinct aggs it would be
    * an Expand instead). This variant aggregates the sketch alone: one
    * map-side-combinable pass, constant-space per (bucket, type)
    * group, no user_id-keyed aggregate and no Expand anywhere in the
    * plan (PlanAuditSpec pins both), groups and counts identical to
    * the exact face (SketchSpec pins THAT). Spec face, not a catalog
    * row: the estimate's value is engine-specific, so a DuckDB hash
    * oracle cannot exist for it — certification rides on the exact
    * face, the r8 `rel_sketch_agg` stance. */
  def windowUsersSketch(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .withColumn("bucket",
        (floor(unix_timestamp(col("ts")) / 21600) * 21600).cast("long"))
      .groupBy("bucket", "event_type")
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id"), rsd = 0.02)
          .as("approx_users"))
      .orderBy("bucket", "event_type")

  /** SCD2 intervalization — collapse each user's event-type stream into
    * type-2 dimension rows `[valid_from, valid_to)` with an `is_current`
    * flag, the history table a warehouse builds from a CDC feed (the
    * reference's refresh jobs emit snapshot extracts; this is the
    * standard "keep history" counterpart). Gaps-and-islands: the
    * difference of two row_numbers (stream order vs per-type order) is
    * constant exactly within a run of consecutive equal types, so a
    * groupBy on it rebuilds the runs without a self-join; `lead` then
    * closes each interval at the next run's start. Ties on ts are
    * broken by event_id in BOTH row_numbers and in the lead ordering
    * (via the run's first event_id), so the islands and the interval
    * chain are fully deterministic.
    *
    * Scale (100 TB): ONE exchange on user_id serves everything — both
    * window sorts, the island aggregate, and the lead window all need
    * only user-level co-location (hash(user_id) satisfies every
    * ClusteredDistribution here by the subset rule), so the plan is
    * scan → exchange → sorts/agg/window. No join, no second shuffle;
    * skew degrades to one partition's sort: a hot user_id's whole
    * history sorts in one task. */
  val scd2: Q = Q(
    "ev_scd2",
    (s, dir) => {
      val wAll = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wTyp = Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
      val islands = ev(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"),
          col("event_id"),
          (row_number().over(wAll) - row_number().over(wTyp)).as("grp"))
        .groupBy("user_id", "event_type", "grp")
        .agg(min("ts").as("valid_from"),
          min("event_id").as("first_event_id"),
          count(lit(1)).as("n_events"))
      val wLead = Window.partitionBy("user_id")
        .orderBy("valid_from", "first_event_id")
      islands
        .select(col("user_id"), col("event_type"), col("valid_from"),
          lead(col("valid_from"), 1).over(wLead).as("valid_to"),
          col("n_events"))
        .withColumn("is_current", col("valid_to").isNull)
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("valid_to"), col("is_current"), col("n_events"))
        // + valid_to, n_events: (user, valid_from, type) is not a
        // key when same-type islands share a timestamp; with all
        // projected columns in the sort, remaining ties are
        // byte-identical rows (order-irrelevant to the value hash).
        // NULLS FIRST explicit in the oracle — Spark ASC defaults to
        // nulls-first, DuckDB to nulls-last (r19 review)
        .orderBy(col("user_id"), col("valid_from"), col("event_type"),
          col("valid_to").asc_nulls_first, col("n_events"))
    },
    Some("""
      WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id)
             - row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS grp
        FROM events),
      islands AS (
        SELECT user_id, event_type, min(ts) AS valid_from,
               min(event_id) AS first_event_id, count(*) AS n_events
        FROM ordered GROUP BY user_id, event_type, grp),
      scd AS (
        SELECT user_id, event_type, valid_from, n_events,
               lead(valid_from, 1) OVER (PARTITION BY user_id
                 ORDER BY valid_from, first_event_id) AS valid_to
        FROM islands)
      SELECT user_id, event_type, valid_from, valid_to,
             valid_to IS NULL AS is_current, n_events
      FROM scd ORDER BY user_id, valid_from, event_type,
                     valid_to NULLS FIRST, n_events""")
  )

  /** Activity streaks — per user, maximal runs of consecutive active
    * calendar days (the retention-adjacent "gaps and islands over
    * dates" shape: engagement streaks, SLA uptime runs, sensor
    * liveness). Anchor trick: `day − dense_rank(day)` is constant
    * exactly within a run of consecutive days — dense_rank (not
    * row_number) so multiple events on one day don't break the run —
    * and a single groupBy on the anchor rebuilds each streak with its
    * start, end, day count, and event count in one pass.
    *
    * Scale (100 TB): one exchange on user_id (the dense_rank window),
    * then the (user, anchor) aggregate is subset-satisfied — no second
    * shuffle, no self-join, no distinct-days materialization. */
  val activityStreaks: Q = Q(
    "ev_activity_streaks",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("day")
      ev(s, dir)
        .select(col("user_id"), col("ts").cast("date").as("day"))
        .withColumn("anchor", date_sub(col("day"), dense_rank().over(w)))
        .groupBy("user_id", "anchor")
        .agg(min("day").as("streak_start"), max("day").as("streak_end"),
          countDistinct(col("day")).as("n_days"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("streak_start"), col("streak_end"),
          col("n_days"), col("n_events"))
        .orderBy("user_id", "streak_start")
    },
    Some("""
      WITH days AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY
                 CAST(ts AS DATE)) AS INTEGER) AS rk
        FROM events)
      SELECT user_id, min(day) AS streak_start, max(day) AS streak_end,
             count(DISTINCT day) AS n_days, count(*) AS n_events
      FROM days GROUP BY user_id, day - rk
      ORDER BY user_id, streak_start""")
  )

  /** Event-path transition matrix — first-order Markov counts and
    * probabilities over each user's event sequence (the path-analysis
    * companion of [[funnel]]: the funnel asks "did the prescribed
    * order happen", this asks "what actually follows what"). One lead
    * window per user builds the (from, to) pairs, a
    * |types|²-bounded aggregate counts them, and the row probability
    * normalizes per from-state with a partitioned window sum — every
    * double is one division of exact longs, so the oracle
    * hash-matches.
    *
    * Scale (100 TB): one exchange on user_id for the lead; the
    * transition aggregate and the per-from normalization live on a
    * |types|²-key table — event-type vocabularies are tens, so both
    * are broadcast-sized no matter the stream length. */
  val pathTransitions: Q = Q(
    "ev_path_transitions",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wFrom = Window.partitionBy("from_type")
      ev(s, dir)
        .select(col("event_type").as("from_type"),
          lead(col("event_type"), 1).over(w).as("to_type"))
        .filter(col("to_type").isNotNull)
        .groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("n"))
        .withColumn("p", col("n").cast("double") /
          sum("n").over(wFrom).cast("double"))
        .orderBy("from_type", "to_type")
    },
    Some("""
      WITH tr AS (
        SELECT event_type AS from_type,
               lead(event_type, 1) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS to_type
        FROM events),
      c AS (
        SELECT from_type, to_type, count(*) AS n
        FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2)
      SELECT from_type, to_type, n,
             CAST(n AS DOUBLE) /
               CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
      FROM c ORDER BY from_type, to_type""")
  )

  /** Last-touch conversion attribution — each purchase credits the
    * user's most recent preceding non-purchase event (the running
    * `last(..., ignoreNulls)` as-of idiom from [[asofJoin]]: no join,
    * no build side), purchases with no preceding touch credit
    * 'direct', and conversions/revenue aggregate per channel in exact
    * integer cents. The marketing-analytics face next to
    * [[funnel]]/[[pathTransitions]].
    *
    * Scale: one exchange on user_id for the window, then a
    * |channels|-bounded aggregate — stream length never touches the
    * shuffle beyond the per-user sort. */
  val attribution: Q = Q(
    "ev_attribution",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      ev(s, dir)
        .withColumn("last_touch",
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(coalesce(col("last_touch"), lit("direct")).as("channel"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_conversions"),
          sum("cents").as("revenue_cents"))
        .orderBy("channel")
    },
    Some("""
      WITH att AS (
        SELECT event_type, value,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS last_touch
        FROM events)
      SELECT COALESCE(last_touch, 'direct') AS channel,
             count(*) AS n_conversions,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
      FROM att WHERE event_type = 'purchase'
      GROUP BY 1 ORDER BY 1""")
  )

  /** Multi-touch LINEAR attribution — [[attribution]]'s last-touch
    * rule gives the whole conversion to one channel; the linear model
    * splits each purchase's revenue EQUALLY across every touch on its
    * path (the events since the user's previous purchase), the other
    * standard report marketing analytics runs on the same event
    * stream. Exact integer cents throughout: each touch receives
    * `cents div n`, the division remainder goes to the LAST touch
    * (deterministic rule — no fractional cents, no float credit), and
    * a touchless purchase credits `direct` in full, so credited cents
    * conserve total revenue EXACTLY (pinned against [[attribution]]
    * in EdgeCaseSpec).
    *
    * Path identity without a join: a reverse-cumulative purchase
    * count (`ROWS CURRENT..UNBOUNDED FOLLOWING`) stamps a purchase
    * and the touches preceding it with the same path id; trailing
    * touches after the final purchase get path 0 and drop. One
    * exchange on `user_id` serves every window (the per-path frames
    * cluster by (user, path) which user-hash partitioning already
    * satisfies — Spark adds sorts, never a second shuffle), then one
    * bounded-|channels| groupBy. */
  val attributionLinear: Q = Q(
    "ev_attribution_linear",
    (s, dir) => {
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val pathW = Window.partitionBy("user_id", "path_id")
      val touchOrd = Window.partitionBy("user_id", "path_id")
        .orderBy(col("is_purchase"), col("ts").desc, col("event_id").desc)
      ev(s, dir)
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .withColumn("is_purchase",
          when(col("event_type") === "purchase", 1L).otherwise(0L))
        .withColumn("path_id", sum("is_purchase").over(
          byUser.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
        .filter(col("path_id") >= 1)
        .withColumn("conv_cents",
          max(when(col("is_purchase") === 1L, col("cents"))).over(pathW))
        .withColumn("n_touch",
          sum(lit(1L) - col("is_purchase")).over(pathW))
        // touches sort before purchases, so rn 1..n_touch are exactly
        // the path's touches, latest first; purchase rows rank after
        // and never win the remainder
        .withColumn("rn_desc", row_number().over(touchOrd))
        .withColumn("credit",
          when(col("is_purchase") === 1L && col("n_touch") === 0L,
            col("cents"))
            .when(col("is_purchase") === 0L,
              expr("conv_cents div n_touch") +
                when(col("rn_desc") === 1,
                  col("conv_cents") % col("n_touch")).otherwise(0L)))
        .filter(col("credit").isNotNull)
        .select(
          when(col("is_purchase") === 1L, lit("direct"))
            .otherwise(col("event_type")).as("channel"),
          col("credit"))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_credits"),
          sum("credit").as("credited_cents"))
        .orderBy("channel")
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, event_type, ts,
               CAST(round(value * 100) AS BIGINT) AS cents,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                 AS is_purchase,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN CURRENT ROW
                            AND UNBOUNDED FOLLOWING) AS path_id
        FROM events),
      p AS (
        SELECT *,
               max(CASE WHEN is_purchase = 1 THEN cents END)
                 OVER (PARTITION BY user_id, path_id) AS conv_cents,
               sum(1 - is_purchase)
                 OVER (PARTITION BY user_id, path_id) AS n_touch,
               row_number()
                 OVER (PARTITION BY user_id, path_id
                       ORDER BY is_purchase, ts DESC, event_id DESC)
                 AS rn_desc
        FROM e WHERE path_id >= 1),
      credit AS (
        SELECT CASE WHEN is_purchase = 1 THEN 'direct'
                    ELSE event_type END AS channel,
               CASE WHEN is_purchase = 1 AND n_touch = 0 THEN cents
                    WHEN is_purchase = 0 THEN
                      conv_cents // n_touch +
                      CASE WHEN rn_desc = 1 THEN conv_cents % n_touch
                           ELSE 0 END
               END AS c
        FROM p)
      SELECT channel,
             CAST(count(*) AS BIGINT) AS n_credits,
             CAST(sum(c) AS BIGINT) AS credited_cents
      FROM credit WHERE c IS NOT NULL
      GROUP BY 1 ORDER BY 1""")
  )

  /** Debounce — collapse rapid-fire repeats of the same (user, type)
    * into one kept event per quiet-gap burst: a burst opens at the
    * first event and extends while consecutive gaps stay within 10
    * minutes (the [[sessionWindow]] islands idiom at per-type grain);
    * only the burst's first event survives, carrying how many repeats
    * it suppressed. The standard bot-spam / double-click scrub a
    * training-event pipeline runs before counting anything.
    *
    * Burst membership is gap-chained (an event 9 minutes after a kept
    * neighbour stays suppressed even when it is 25 minutes after the
    * keeper) — debounce-until-quiet, not a fixed blackout window.
    * Gaps compare microsecond longs, so both engines decide bursts
    * with exact integer arithmetic.
    *
    * Scale (100 TB): one exchange on (user_id, event_type) serves the
    * lag, the burst-id running sum, and the per-burst row_number/count
    * — the output clustering already satisfies them all; nothing else
    * shuffles. */
  val debounce: Q = Q(
    "ev_debounce",
    (s, dir) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
      val burstW = Window.partitionBy("user_id", "event_type", "burst")
      val burstOrd = burstW.orderBy("ts", "event_id")
      ev(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("gap_us", col("us") - lag("us", 1).over(w))
        .withColumn("new_burst",
          when(col("gap_us").isNull || col("gap_us") > 600000000L, 1L)
            .otherwise(0L))
        .withColumn("burst", sum("new_burst")
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("rn", row_number().over(burstOrd))
        .withColumn("n_suppressed", count(lit(1)).over(burstW) - 1)
        .filter(col("rn") === 1)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"), col("n_suppressed"))
        .orderBy("user_id", "event_type", "ts", "event_id")
    },
    Some("""
      WITH g AS (
        SELECT event_id, user_id, event_type, ts,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                         > 600000000
                    THEN 1 ELSE 0 END AS new_burst
        FROM events
        WINDOW w AS (PARTITION BY user_id, event_type
                     ORDER BY ts, event_id)),
      b AS (
        SELECT *, sum(new_burst) OVER (PARTITION BY user_id, event_type
                 ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS burst
        FROM g),
      r AS (
        SELECT *,
               row_number() OVER (PARTITION BY user_id, event_type, burst
                 ORDER BY ts, event_id) AS rn,
               count(*) OVER (PARTITION BY user_id, event_type, burst)
                 - 1 AS n_suppressed
        FROM b)
      SELECT event_id, user_id, event_type, ts, n_suppressed
      FROM r WHERE rn = 1
      ORDER BY user_id, event_type, ts, event_id""")
  )

  /** Rolling 1-hour per-user aggregate over a RANGE frame — the one
    * window-frame family the rest of the catalog doesn't exercise
    * (ROWS frames: [[asofJoin]]/[[attribution]]; tumbling/sliding
    * GROUP BYs: [[windowAgg]]/[[slidingWindow]]). RANGE peers are
    * VALUE-based: every event within the trailing hour counts,
    * including timestamp ties, regardless of row order — so the frame
    * is deterministic with no tie-break column, which a ROWS frame
    * could never guarantee. Ordering key is `unix_micros` and the
    * measure is cents, so both engines bound and sum the frame in
    * exact integer arithmetic.
    *
    * Scale (100 TB): one exchange on user_id; the running frame is a
    * per-partition sorted sweep with an eviction pointer — state is
    * the frame's width in events, never the stream's length. */
  val rollingValue: Q = Q(
    "ev_rolling_value",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("us")
        .rangeBetween(-3600000000L, 0)
      ev(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          unix_micros(col("ts")).as("us"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("roll_cents", sum("cents").over(w))
        .withColumn("roll_n", count(lit(1)).over(w))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("roll_cents"), col("roll_n"))
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, user_id, ts,
             CAST(sum(cents) OVER w AS BIGINT) AS roll_cents,
             count(*) OVER w AS roll_n
      FROM (
        SELECT event_id, user_id, ts, epoch_us(ts) AS us,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events)
      WINDOW w AS (PARTITION BY user_id ORDER BY us
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      ORDER BY event_id""")
  )

  /** Peak-concurrency sweep — the classic interval problem ("how many
    * sessions were live at once?") solved WITHOUT the naive
    * interval-overlap self-join. Each event becomes an interval
    * [ts, ts + value seconds); the sweep explodes every interval into
    * a +1 delta at its start and a -1 delta at its (exclusive) end,
    * then a running RANGE-framed sum ordered by (time, delta) is the
    * live count at every boundary: delta ascending puts ends before
    * starts at the same instant, so back-to-back intervals never
    * double-count, and RANGE peers (identical (t, delta) rows) enter
    * the sum together, keeping the running value deterministic without
    * any tie-break column. Durations are exact integer microseconds
    * (`round(value*1e6)`), clamped at 0 for any negative measure.
    *
    * Scale (100 TB): the self-join formulation is O(n·k) pairs and
    * shuffles both sides; the sweep is 2n narrow rows, one exchange on
    * `event_type`, one sorted pass — state is a single counter. The
    * per-type window parallelizes across types; a single globally-hot
    * type degrades to one partition's sort (the documented window
    * trade), not a cross product. */
  val concurrency: Q = Q(
    "ev_concurrency",
    (s, dir) => {
      val iv = ev(s, dir).select(
        col("event_type"),
        unix_micros(col("ts")).as("s_us"),
        (unix_micros(col("ts")) +
          greatest(round(col("value") * 1000000L).cast("long"), lit(0L)))
          .as("e_us"))
      val deltas =
        iv.select(col("event_type"), col("s_us").as("t"),
            lit(1L).as("delta"))
          .unionAll(iv.select(col("event_type"), col("e_us").as("t"),
            lit(-1L).as("delta")))
      val w = Window.partitionBy("event_type").orderBy("t", "delta")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      deltas
        .withColumn("live", sum("delta").over(w))
        .groupBy("event_type")
        .agg(max("live").as("peak_concurrent"),
          (count(lit(1)) / 2).cast("long").as("n_intervals"))
        .orderBy("event_type")
    },
    Some("""
      WITH iv AS (
        SELECT event_type, epoch_us(ts) AS s_us,
               epoch_us(ts) +
                 greatest(CAST(round(value * 1000000) AS BIGINT), 0) AS e_us
        FROM events),
      deltas AS (
        SELECT event_type, s_us AS t, CAST(1 AS BIGINT) AS delta FROM iv
        UNION ALL
        SELECT event_type, e_us AS t, CAST(-1 AS BIGINT) AS delta FROM iv),
      swept AS (
        SELECT event_type,
               CAST(sum(delta) OVER (PARTITION BY event_type
                 ORDER BY t, delta
                 RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS live
        FROM deltas)
      SELECT event_type, CAST(max(live) AS BIGINT) AS peak_concurrent,
             CAST(count(*) / 2 AS BIGINT) AS n_intervals
      FROM swept GROUP BY 1 ORDER BY 1""")
  )

  /** Per-user covered time — merge overlapping intervals into islands
    * and sum their lengths, the "total active time" metric dashboards
    * actually want (summing raw durations double-counts overlap). The
    * island construction is the standard two-window trick: a row opens
    * a new island iff its start exceeds the running max end of every
    * EARLIER interval (ROWS ... 1 PRECEDING — strictly-before frame),
    * and the running sum of those open-flags numbers the islands.
    * Ordering is the total order (s, e, event_id), so frames — and
    * with them island ids — are identical in any engine. All
    * arithmetic is exact integer microseconds.
    *
    * Scale (100 TB): one exchange on `user_id`, two window passes over
    * the same sort (Spark plans them in a single Window node), one
    * bounded aggregate — per-user state is one running max. The
    * interval-merge alternative via self-join is quadratic in overlap
    * depth; this is linear. */
  val intervalCoverage: Q = Q(
    "ev_interval_coverage",
    (s, dir) => {
      val iv = ev(s, dir).select(
        col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("s"),
        (unix_micros(col("ts")) +
          greatest(round(col("value") * 1000000L).cast("long"), lit(0L)))
          .as("e"))
      val ord = Window.partitionBy("user_id").orderBy("s", "e", "event_id")
      val prev = ord.rowsBetween(Window.unboundedPreceding, -1)
      val runn = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      iv.withColumn("prev_max", max("e").over(prev))
        .withColumn("flag",
          when(col("prev_max").isNull || col("s") > col("prev_max"), 1L)
            .otherwise(0L))
        .withColumn("island", sum("flag").over(runn))
        .groupBy("user_id", "island")
        .agg(min("s").as("is_"), max("e").as("ie"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          sum(col("ie") - col("is_")).as("covered_us"))
        .orderBy("user_id")
    },
    Some("""
      WITH iv AS (
        SELECT user_id, event_id, epoch_us(ts) AS s,
               epoch_us(ts) +
                 greatest(CAST(round(value * 1000000) AS BIGINT), 0) AS e
        FROM events),
      m AS (
        SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        FROM iv),
      isl AS (
        SELECT user_id,
               sum(CASE WHEN prev_max IS NULL OR s > prev_max
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY s, e, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island,
               s, e
        FROM m),
      g AS (SELECT user_id, island, min(s) AS is_, max(e) AS ie
            FROM isl GROUP BY 1, 2)
      SELECT user_id, count(*) AS n_islands,
             CAST(sum(ie - is_) AS BIGINT) AS covered_us
      FROM g GROUP BY 1 ORDER BY 1""")
  )

  /** Integer-exact 3-sigma outliers per event type. The z-score test
    * |v-mu| > 3*sigma is algebraically cleared of divisions and square
    * roots: with per-type n, s = sum(v), ss = sum(v^2) in whole units,
    * the flag is (n*v - s)^2 > 9*(n*ss - s^2) — every operand a BIGINT,
    * so Spark and DuckDB agree bit-for-bit where any float pipeline
    * would diverge in the last ulp of a stddev. Whole units (not
    * cents) keep the worst term n*ss well under 2^63 at any plausible
    * per-type cardinality (bound documented in the spec).
    *
    * Scale (100 TB): stats are a bounded aggregate (one row per
    * event_type) broadcast back onto the stream — one scan, one
    * map-side-combined exchange, no window over the full table, and
    * the output is only the outliers. */
  val anomaly: Q = Q(
    "ev_anomaly",
    (s, dir) => {
      val units = ev(s, dir).select(
        col("event_id"), col("event_type"),
        round(col("value")).cast("long").as("v"))
      val stats0 = units.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum("v").as("s"),
        sum(col("v") * col("v")).as("ss"),
        greatest(abs(max("v")), abs(min("v")), lit(1L)).as("m"))
      // The overflow envelope, ENFORCED (r10 advice). Spark 4 runs
      // ANSI-on by default, so Long overflow RAISES on both engines —
      // the guard's job is not to catch silent wrapping but to fail
      // FIRST with a named, actionable error (which envelope, which
      // term) before either engine's opaque ARITHMETIC_OVERFLOW fires
      // mid-plan (r20 review corrected the pre-ANSI rationale): n·m ≤ 1e9
      // with m = max|v| implies every test term stays inside Long —
      // |n·v − s| ≤ 2·n·m so its square < 2^63, and by Cauchy-Schwarz
      // 0 ≤ n·ss − s² ≤ n²m², so the 9× multiple is < 2^63 too. The
      // check multiplies as DOUBLE (the guard itself must not wrap)
      // and runs once per event_type row on the broadcast side;
      // assert_true is NULL on pass, so the filter keeps every row
      // and the guard cannot be pruned from the plan.
      val stats = stats0.filter(assert_true(
        col("n").cast("double") * col("m").cast("double") <= 1e9,
        concat(lit("ev_anomaly overflow envelope exceeded: n*max|v|="),
          (col("n").cast("double") * col("m").cast("double"))
            .cast("string"))).isNull)
        .select("event_type", "n", "s", "ss")
      units.join(broadcast(stats), "event_type")
        .filter((col("n") * col("v") - col("s")) *
          (col("n") * col("v") - col("s")) >
          lit(9L) * (col("n") * col("ss") - col("s") * col("s")))
        .select(col("event_id"), col("event_type"), col("v"),
          col("n").as("type_n"))
        .orderBy("event_id")
    },
    Some("""
      WITH u AS (
        SELECT event_id, event_type,
               CAST(round(value) AS BIGINT) AS v
        FROM events),
      st AS (
        SELECT event_type, count(*) AS n, sum(v) AS s, sum(v*v) AS ss
        FROM u GROUP BY 1)
      SELECT u.event_id, u.event_type, u.v, st.n AS type_n
      FROM u JOIN st USING (event_type)
      WHERE (st.n * u.v - st.s) * (st.n * u.v - st.s)
            > 9 * (st.n * st.ss - st.s * st.s)
      ORDER BY u.event_id""")
  )

  /** Time-series resampling with forward-fill — regularize each user's
    * irregular event stream onto an hourly grid (the shape feature
    * stores and downstream models expect: one row per user per hour,
    * gaps filled with the last observation). Three bounded pieces, all
    * in exact integer arithmetic (hour index = µs div 3.6e9, value in
    * cents): per-(user, hour) event count + last-in-hour value (total
    * order (us, event_id) breaks timestamp ties), per-user [first,
    * last] hour bounds exploded to the grid with `sequence`, and a
    * running `last(_, ignoreNulls)` carrying values across empty
    * hours. The grid starts at the user's first ACTIVE hour, so the
    * fill never reads before its first observation and `filled_cents`
    * is total.
    *
    * Scale (100 TB): everything keys on `user_id` — the hour agg, the
    * bounds agg, the grid join, and the fill window share one
    * partitioning. The explode is bounded by each user's active range
    * in hours (never the corpus timespan × all users), and the fill
    * state is one value per user. */
  val resample: Q = Q(
    "ev_resample",
    (s, dir) => {
      // hour index by FLOOR division (subtract the always-non-negative
      // pmod first): Spark `div` and DuckDB `//` both truncate toward
      // zero, so they agree with each other either way, but truncation
      // would bucket pre-1970 events toward hour 0 instead of their
      // calendar hour — same precaution as the NANOS rebuild in
      // sources.Tables. The oracle uses the matching sign-safe idiom.
      val e2 = ev(s, dir).select(
        col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 3600000000))" +
          " div 3600000000").as("h"),
        round(col("value") * 100).cast("long").as("cents"))
      val rn = Window.partitionBy("user_id", "h")
        .orderBy(col("us").desc, col("event_id").desc)
      val hourly = e2
        .withColumn("rn", row_number().over(rn))
        .groupBy("user_id", "h")
        .agg(count(lit(1)).as("n_events"),
          max(when(col("rn") === 1, col("cents"))).as("last_cents"))
      val grid = e2.groupBy("user_id")
        .agg(min("h").as("h0"), max("h").as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"))).as("h"))
      val fill = Window.partitionBy("user_id").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("user_id", "h"), "left")
        .select(col("user_id"), col("h").as("hour_idx"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          last(col("last_cents"), ignoreNulls = true).over(fill)
            .as("filled_cents"))
        .orderBy("user_id", "hour_idx")
    },
    Some("""
      WITH e2 AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               (epoch_us(ts) - ((epoch_us(ts) % 3600000000)
                 + 3600000000) % 3600000000) // 3600000000 AS h,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events),
      hourly AS (
        SELECT user_id, h, count(*) AS n_events,
               max(CASE WHEN rn = 1 THEN cents END) AS last_cents
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id, h
                ORDER BY us DESC, event_id DESC) AS rn FROM e2)
        GROUP BY 1, 2),
      grid AS (
        SELECT user_id, unnest(generate_series(h0, h1)) AS h
        FROM (SELECT user_id, min(h) AS h0, max(h) AS h1
              FROM e2 GROUP BY 1)),
      j AS (
        SELECT g.user_id, g.h, COALESCE(hh.n_events, 0) AS n_events,
               hh.last_cents
        FROM grid g LEFT JOIN hourly hh
          ON hh.user_id = g.user_id AND hh.h = g.h)
      SELECT user_id, h AS hour_idx, n_events,
             last_value(last_cents IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS filled_cents
      FROM j ORDER BY user_id, hour_idx""")
  )

  /** Rank-based winsorization — cap a heavy-tailed measure at its
    * per-group [p5, p95] before averaging, the standard robustifier
    * for metrics a single whale would otherwise own. Percentile
    * BOUNDS are selected by integer rank over the injective
    * (cents, event_id) order (the `rel_exact_median` selection idiom
    * generalized to any rank): k_lo = max(1, 5n div 100),
    * k_hi = min(n, 95n div 100 + 1) — every operand a BIGINT, both
    * engines pick the identical element, no percentile float path.
    * The clamp itself is `least(greatest(cents, lo), hi)`.
    *
    * Scale (100 TB): one exchange on `event_type` serves the ranking
    * window; bounds collapse to one 2-value row per type,
    * broadcast back onto the stream. For groups that outgrow a
    * partition's sort, the swap is [[winsorizeSketch]] (r12): the
    * same clamp with percentile_approx bounds and NO ordering window,
    * SketchSpec-certified, at the cost of exactness. */
  val winsorize: Q = Q(
    "ev_winsorize",
    (s, dir) => {
      val w = Window.partitionBy("event_type")
        .orderBy("cents", "event_id")
      val ranked = ev(s, dir).select(
        col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy("event_type")))
      val bounds = ranked
        .filter(col("rn") === greatest(lit(1L), expr("(5 * n) div 100")) ||
          col("rn") === least(col("n"), expr("(95 * n) div 100 + 1")))
        .groupBy("event_type")
        .agg(min("cents").as("lo"), max("cents").as("hi"))
      ranked.join(broadcast(bounds), "event_type")
        .select(col("event_id"), col("event_type"), col("cents"),
          least(greatest(col("cents"), col("lo")), col("hi"))
            .as("w_cents"))
        .orderBy("event_id")
    },
    Some("""
      WITH e AS (
        SELECT event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events),
      r AS (
        SELECT *,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY cents, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM e),
      b AS (
        SELECT event_type, min(cents) AS lo, max(cents) AS hi
        FROM r
        WHERE rn = greatest(1, (5 * n) // 100)
           OR rn = least(n, (95 * n) // 100 + 1)
        GROUP BY 1)
      SELECT e.event_id, e.event_type, e.cents,
             least(greatest(e.cents, b.lo), b.hi) AS w_cents
      FROM e JOIN b USING (event_type)
      ORDER BY e.event_id""")
  )

  /** The 100 TB shape [[winsorize]]'s doc promises for groups that
    * outgrow a partition's sort: the SAME [p5, p95] clamp with bounds
    * from the mergeable `percentile_approx` sketch instead of the
    * exact rank window — one map-side-combinable pass collapses each
    * type to a 2-value bounds row (constant sketch space per type,
    * never a whole-partition sort), broadcast back onto the stream.
    * NO ordering window anywhere in the plan (SketchSpec pins the
    * plan, brackets each sketch bound inside the exact p1–p10 /
    * p90–p99 rank neighborhood, and checks in-band rows pass through
    * unclamped). Spec face, not a catalog row: sketch bounds are
    * engine-specific, so a DuckDB hash oracle cannot exist — the
    * `rel_sketch_agg` / [[windowUsersSketch]] stance. */
  def winsorizeSketch(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select(
      col("event_id"), col("event_type"),
      round(col("value") * 100).cast("long").as("cents"))
    val bounds = e.groupBy("event_type")
      .agg(
        percentile_approx(col("cents"), lit(0.05), lit(10000)).as("lo"),
        percentile_approx(col("cents"), lit(0.95), lit(10000)).as("hi"))
    e.join(broadcast(bounds), "event_type")
      .select(col("event_id"), col("event_type"), col("cents"),
        least(greatest(col("cents"), col("lo")), col("hi"))
          .as("w_cents"))
      .orderBy("event_id")
  }

  /** RFM segmentation — the classic customer-value report over the
    * purchase stream: per user, Recency (days since last purchase,
    * anchored at the corpus max so the report is reproducible),
    * Frequency (purchase count) and Monetary (exact cents), each
    * scored into quintiles (5 = most recent / most frequent / highest
    * spend) and concatenated into the three-digit RFM segment label.
    *
    * Scoring is COHORT-ADJUSTED: quintiles are taken within the
    * user's first-activity week, not globally — a user who joined
    * last week never competes on recency with a two-year account
    * (standard practice), and, just as importantly for this engine,
    * it replaces the global `ntile` sort (one partition holding every
    * user — the shape PlanAuditSpec bans) with a PARTITIONED window
    * keyed by cohort week. All three quintile windows share one
    * partitioning, so the plan is a single exchange on cohort_week
    * with three in-partition sorts.
    *
    * Determinism: every ntile ordering ends in `user_id`, so the
    * quintile assignment is a total order both engines agree on;
    * recency division is floor-exact (both operands non-negative).
    *
    * Scale (100 TB): the fact table collapses to one row per user
    * before any window; the anchor is a 1-row broadcast (the
    * ev_watermark scalar idiom, no global window); cohort partitions
    * are |users-per-week|-sized, not |users|-sized. */
  val rfm: Q = Q(
    "ev_rfm",
    (s, dir) => {
      val p = ev(s, dir).filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          round(col("value") * 100).cast("long").as("cents"),
          date_trunc("week", col("ts")).as("week"))
      val perUser = p.groupBy("user_id")
        .agg(max("us").as("last_us"), count(lit(1)).as("frequency"),
          sum("cents").as("monetary_cents"),
          min("week").as("cohort_week"))
      val anchor = perUser.agg(max("last_us").as("now_us"))
      def quintile(metric: org.apache.spark.sql.Column) =
        ntile(5).over(Window.partitionBy("cohort_week")
          .orderBy(metric, col("user_id"))).cast("long")
      perUser.join(broadcast(anchor))
        .withColumn("recency_days",
          expr("(now_us - last_us) div 86400000000"))
        .withColumn("r_score", quintile(col("last_us")))
        .withColumn("f_score", quintile(col("frequency")))
        .withColumn("m_score", quintile(col("monetary_cents")))
        .select(col("user_id"), col("cohort_week"), col("recency_days"),
          col("frequency"), col("monetary_cents"),
          col("r_score"), col("f_score"), col("m_score"),
          concat(col("r_score").cast("string"),
            col("f_score").cast("string"),
            col("m_score").cast("string")).as("segment"))
        .orderBy("user_id")
    },
    Some("""
      WITH p AS (
        SELECT user_id, epoch_us(ts) AS us,
               CAST(round(value * 100) AS BIGINT) AS cents,
               date_trunc('week', ts) AS week
        FROM events WHERE event_type = 'purchase'),
      u AS (
        SELECT user_id, max(us) AS last_us, count(*) AS frequency,
               CAST(sum(cents) AS BIGINT) AS monetary_cents,
               min(week) AS cohort_week
        FROM p GROUP BY 1),
      sc AS (
        SELECT user_id, cohort_week,
               ((SELECT max(last_us) FROM u) - last_us) // 86400000000
                 AS recency_days,
               frequency, monetary_cents,
               ntile(5) OVER (PARTITION BY cohort_week
                 ORDER BY last_us, user_id) AS r_score,
               ntile(5) OVER (PARTITION BY cohort_week
                 ORDER BY frequency, user_id) AS f_score,
               ntile(5) OVER (PARTITION BY cohort_week
                 ORDER BY monetary_cents, user_id) AS m_score
        FROM u)
      SELECT user_id, cohort_week, recency_days, frequency,
             monetary_cents, r_score, f_score, m_score,
             r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR
               AS segment
      FROM sc ORDER BY user_id""")
  )

  /** Hour-of-day seasonality profile — per (event_type, hour-of-day),
    * the event count plus its deviation from the type's flat-profile
    * expectation in exact permille: `dev = (24·n − total)·1000 div
    * total`, positive for peak hours, negative for quiet ones. The
    * traffic-shape report behind capacity planning and bot detection
    * (a genuinely diurnal signal has large |dev|; machine traffic is
    * flat), kept in pure integer arithmetic so both engines agree
    * bit-for-bit — no doubles, no ratios until the reader divides by
    * 1000. The per-type total attaches by a partitioned window over
    * the AGGREGATED 24-row profile, not the fact table.
    *
    * Scale (100 TB): one map-side-combined aggregate to
    * |types|×24 rows; everything after is windowing over that
    * bounded profile. */
  val seasonality: Q = Q(
    "ev_seasonality",
    (s, dir) => {
      val byHour = ev(s, dir)
        .groupBy(col("event_type"), hour(col("ts")).as("hod"))
        .agg(count(lit(1)).as("n_events"))
      val wType = Window.partitionBy("event_type")
      byHour
        .withColumn("type_total", sum("n_events").over(wType))
        .select(col("event_type"), col("hod").cast("long").as("hod"),
          col("n_events"),
          expr("(24 * n_events - type_total) * 1000 div type_total")
            .as("dev_permille"))
        .orderBy("event_type", "hod")
    },
    Some("""
      WITH p AS (
        SELECT event_type, hour(ts) AS hod, count(*) AS n_events
        FROM events GROUP BY 1, 2)
      SELECT event_type, CAST(hod AS BIGINT) AS hod, n_events,
             CAST((24 * n_events - sum(n_events) OVER w) * 1000
               // sum(n_events) OVER w AS BIGINT) AS dev_permille
      FROM p WINDOW w AS (PARTITION BY event_type)
      ORDER BY event_type, hod""")
  )

  /** CUSUM change-point detection — per event type, the point in the
    * stream where the cumulative deviation from the type's mean value
    * peaks: the classic level-shift detector ([[anomaly]] flags
    * outlier POINTS; this finds where the distribution MOVED — a
    * price change, a bug altering purchase values). Division-free
    * integer form: `S_k = n·P_k − k·total` (P_k the exact-cents
    * prefix sum) is n times the textbook Σ(x_i − mean) cusum, so the
    * argmax over |S_k| is the same k; every operand is BIGINT and the
    * envelope is bounded by n·total ≈ 4·10¹⁷ even at sf=1 (n ≈ 6·10⁵
    * events/type × cents sums ≈ 6·10¹¹) — well inside Long.
    * Reported: the change point's 1-based position, its signed S
    * (positive = values ran ABOVE the mean before the peak), and its
    * microsecond timestamp; ties on |S| break to the earliest k via
    * the sentinel struct-max (the argmax idiom of the J3 family).
    *
    * Scale (100 TB): one exchange on event_type for the ordered
    * prefix window (the ev_scd2 shape), then a map-combined argmax
    * aggregate to |types| rows. A hot type concentrates its full
    * history in one window partition; the face keeps the plain
    * window because the sf0.1 fixture is uniform and the single
    * window is literally the oracle's plan. */
  val cusumChangepoint: Q = Q(
    "ev_cusum_changepoint",
    (s, dir) => {
      val wOrd = Window.partitionBy("event_type")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("event_type")
      val e = ev(s, dir).select(col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      e.withColumn("pk", sum("cents").over(wOrd))
        .withColumn("k", row_number().over(
          Window.partitionBy("event_type").orderBy("us", "event_id"))
          .cast("long"))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("tot", sum("cents").over(wAll))
        .withColumn("s", col("n") * col("pk") - col("k") * col("tot"))
        .groupBy("event_type")
        .agg(max(struct(abs(col("s")).as("a"), (-col("k")).as("nk"),
          col("s").as("s"), col("us").as("us"))).as("peak"))
        .select(col("event_type"), (-col("peak.nk")).as("k_star"),
          col("peak.s").as("s_star"), col("peak.us").as("us_star"))
        .orderBy("event_type")
    },
    Some("""
      WITH e AS (
        SELECT event_type, epoch_us(ts) AS us, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events),
      st AS (
        SELECT event_type, us,
               sum(cents) OVER (PARTITION BY event_type
                 ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS pk,
               CAST(row_number() OVER (PARTITION BY event_type
                 ORDER BY us, event_id) AS BIGINT) AS k,
               count(*) OVER (PARTITION BY event_type) AS n,
               CAST(sum(cents) OVER (PARTITION BY event_type)
                 AS BIGINT) AS tot
        FROM e),
      scored AS (
        SELECT event_type, k, us, n * pk - k * tot AS s,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY abs(n * pk - k * tot) DESC, k ASC) AS rn
        FROM st)
      SELECT event_type, k AS k_star, CAST(s AS BIGINT) AS s_star,
             us AS us_star
      FROM scored WHERE rn = 1 ORDER BY event_type""")
  )

  def all: Seq[Q] = Seq(cdcFilter, watermarkIncremental, jsonExtract,
    windowAgg, asofJoin, sessionWindow, slidingWindow, lagLead,
    rankStats, timeParts, funnel, retention, cdcMerge, windowUsers,
    scd2, activityStreaks, pathTransitions, attribution,
    attributionLinear, debounce,
    rollingValue, concurrency, intervalCoverage, anomaly, resample,
    winsorize, rfm, seasonality, cusumChangepoint)
}
