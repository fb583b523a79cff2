package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shuffle-shaping operators for the 100 TB target — SURVEY.md §4 +
  * build mandate ("broadcast small dims, repartition/bucketing for
  * co-located joins, salting for skew, AQE for runtime re-plan").
  *
  * Defense layers, in order: (1) AQE skew-join splitting handles skewed
  * *joins* automatically at runtime; (2) explicit salting below handles
  * the cases AQE cannot — skewed aggregation keys, and joins whose skew
  * sits upstream of the exchange AQE splits; (3) bucketing
  * pre-pays the shuffle once at write time so every later join/agg on
  * the bucket key is exchange-free.
  */
object Partitioning {

  /** Salted inner equi-join for a skew-heavy left side: left rows get a
    * POSITIONAL salt in [0, salts) — `monotonically_increasing_id()`
    * round-robins a partition's rows across every salt, so a hot key
    * spreads even when its rows are byte-identical (a whole-row hash,
    * the old salt, gave every duplicate row ONE salt and silently
    * un-salted exactly the replicated-row skew this operator exists
    * to fix). The honest tradeoff vs rand(): BOTH are Nondeterministic
    * (Stateful) expressions, so either one marks the map stage
    * indeterminate for retry/replay and can block predicate pushdown
    * through the salted project — what the id buys is only the
    * positional spreading of duplicate rows (rand() spreads those too,
    * but costs an RNG per row and draws identical salts for ~1/salts
    * of any hot run regardless of position). The RESULT is
    * salt-agnostic — every salt value joins against the same
    * replicated right rows — so indeterminate replay re-salting a row
    * differently changes nothing downstream; callers that need
    * replay-deterministic lineage should materialize the salted side
    * (CacheScope.materialize) rather than switch salt functions. The
    * right side is replicated `salts` times.
    *
    * Cost model: right side grows ×salts — use for dimension-sized
    * right sides too big to broadcast but small next to the fact side;
    * size `salts` ≈ hot-key rows / target-partition rows. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 salts: Int): DataFrame = {
    require(salts > 0)
    val saltedLeft = left.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(salts.toLong))
        .cast("int"))
    val saltedRight = right.withColumn("__salt",
      explode(lit((0 until salts).toArray)))
    saltedLeft.join(saltedRight, Seq(key, "__salt"), "inner")
      .drop("__salt")
  }

  /** Salted two-phase stats over a skewed group key, for the
    * count/sum/min/max family: phase 1 aggregates (key, salt) — the
    * positional salt of [[saltedJoin]] — so a hot key's rows spread
    * over `salts` reducers, phase 2 merges partials per key (sum of
    * counts/sums, min of mins, max of maxes). Output: key, n_rows,
    * sum_val, min_val, max_val — equal to the unsalted single-phase aggregate
    * by algebraic decomposability, which is how the catalog face
    * (rel_salted_agg) certifies it against a plain GROUP BY oracle. */
  def saltedStats(df: DataFrame, key: String, valueCol: String,
                  salts: Int): DataFrame = {
    require(salts > 0)
    df.withColumn("__salt",
        pmod(monotonically_increasing_id(), lit(salts.toLong))
          .cast("int"))
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__n"), sum(valueCol).as("__s"),
        min(valueCol).as("__mn"), max(valueCol).as("__mx"))
      .groupBy(col(key))
      .agg(sum("__n").as("n_rows"), sum("__s").as("sum_val"),
        min("__mn").as("min_val"), max("__mx").as("max_val"))
  }

  /** Exact token-budget shard packing WITHOUT a per-group global sort.
    *
    * Semantics: within each `partCol` group, rows take the
    * deterministic order (md5(idCol), idCol) and a running `weightCol`
    * total; `shard` = floor((cum - weight) / budget) — the shard the
    * row STARTS in. A single window per group would compute this with
    * ONE reducer per group — a hot source serializes at 100 TB. The
    * md5 order key makes the fix free: its FIRST HEX CHAR is a prefix
    * of the order key, so ordering hierarchically by (hex₁, md5) IS
    * the flat md5 order. Each of the 16 sub-buckets windows
    * independently (16× the parallelism per group), their per-group
    * totals prefix-sum over a ≤ 16·|groups|-row aggregate (one tiny
    * window over the totals, ordered by the bucket hex char — the
    * same ascending order the old driver-side sort used, since hex
    * chars sort identically in Scala and UTF8String), and the bucket
    * offset joins back via broadcast. Bit-identical to the
    * single-window form (PartitioningSpec pins the equivalence), so
    * any engine can replay it as one plain window. NULLs are kept on
    * both keys: a NULL `partCol` is its own group, and NULL-id rows
    * sort first in theirs, as NULL md5 does in the single window.
    *
    * The offsets ride the PLAN as a broadcast subtree instead of a
    * driver collect round-trip (r21, guide §5: the collect was a
    * whole separate job + plan compile per call — the broadcast
    * build executes inside the one result job). `df` is still
    * evaluated TWICE — once by the broadcast's aggregate, once by
    * the probe side. Callers whose `df` carries an expensive
    * lineage should persist() it first (the broadcast build fills the
    * cache in passing, since broadcast subtrees execute before the
    * probe side) and release it once the result materializes —
    * see dd_curation_pipeline. */
  def packShards(df: DataFrame, partCol: String, idCol: String,
                 weightCol: String, budget: Long): DataFrame = {
    require(budget > 0)
    val base = df
      .withColumn("__ord", md5(col(idCol).cast("string")))
      .withColumn("__bkt", substring(col("__ord"), 1, 1))
    // NULL group keys form their own group (as a window's PARTITION BY
    // would): the tiny window partitions NULL into its own group
    // exactly like the old driver groupBy(Option); sum-of-all-NULL
    // weights counts 0 via the coalesce
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy(col(partCol)).orderBy(col("__bkt"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offDf = broadcast(base
      .groupBy(partCol, "__bkt")
      .agg(coalesce(sum(weightCol), lit(0L)).as("__t"))
      .withColumn("__off", coalesce(sum("__t").over(wOff), lit(0L)))
      .select(col(partCol).as("__p"), col("__bkt").as("__b"),
        col("__off")))
    // ROWS, not the default RANGE frame: duplicate idCol values are
    // ORDER BY peers, and RANGE would hand every peer the shared
    // inclusive total — the `cum - weight` exclusive-prefix identity
    // below then breaks exactly on redelivered rows
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(partCol), col("__bkt"))
      .orderBy(col("__ord"), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // null-safe equality on both keys — a plain equi-join would
    // silently drop every NULL-group or NULL-id (NULL bucket) row the
    // window just processed
    base
      .withColumn("__cum", sum(weightCol).over(w))
      .join(offDf,
        col(partCol) <=> col("__p") && col("__bkt") <=> col("__b"))
      .drop("__p", "__b")
      .withColumn("shard",
        floor((col("__off") + col("__cum") - col(weightCol)) / budget))
      .drop("__ord", "__bkt", "__cum", "__off")
  }

  /** Write a bucketed+sorted table: pre-pays the shuffle so subsequent
    * joins/aggs on `key` between same-bucketed tables plan without an
    * Exchange (verified in PartitioningSpec). The production analog of
    * the reference's per-term output partitioning (SURVEY.md S7/§2.1),
    * generalized to any join key. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Read back a bucketed table by name — with the [[recoverSwap]]
    * probe, so a reader arriving in (or after) a crashed swap's
    * unbound-name instant installs the surviving version instead of
    * failing on a table that physically exists under a twin name. */
  def bucketed(spark: SparkSession, table: String): DataFrame = {
    recoverSwap(spark, table)
    spark.table(table)
  }

  /** REPLACE a bucketed table with `df` via stage-then-swap: the
    * rows land in `<table>__stage` first — the original stays intact
    * (and serving) until the full rewrite has committed — then a
    * rename-out + rename-in installs them. Two hazards of a naive
    * mode("overwrite") rewrite die here: a `df` whose lineage READS
    * the target (the maintain-and-rewrite flow: read table → filter/
    * union → write back) is refused by Spark outright, and working
    * around that with a checkpoint puts the only copy of the data in
    * non-fault-tolerant blocks while the overwrite has already
    * dropped the original — a mid-write executor loss then destroys
    * the table.
    *
    * Swap ordering (r14 verdict #3 closed the drop-then-rename crash
    * window): rename target → `<table>__old`, rename stage in, THEN
    * drop `__old` — so the previous version exists under SOME name
    * until the new one serves, and the one unavoidable instant where
    * the serving NAME is unbound (between the two renames) is
    * self-healing: [[recoverSwap]] runs at the start of every
    * replace and inside [[bucketed]] reads, installing a dangling
    * stage (preferred — it is the complete newer table; saveAsTable
    * registers it only after its write committed) or `__old`
    * remnant. A crash at ANY instant therefore leaves the table
    * resolvable by the next reader or writer — never data loss,
    * never a manual rename. Assumes ONE writer per table (see
    * [[recoverSwap]]'s concurrency contract); concurrent REPLACES of
    * the same serving table are not supported on a plain metastore. */
  def replaceBucketed(spark: SparkSession, table: String, df: DataFrame,
                      key: String, buckets: Int): Unit = {
    recoverSwap(spark, table) // converge any dangling prior swap
    writeBucketed(df, table + "__stage", key, buckets)
    installStage(spark, table)
  }

  /** The non-bucketed sibling of [[replaceBucketed]] — same staged
    * swap (same self-read safety, same crash ordering) for the small
    * plain tables that ride along with a bucketed serving bundle
    * (scalar rows, tombstone lists). */
  def replaceTable(spark: SparkSession, table: String,
                   df: DataFrame): Unit = {
    recoverSwap(spark, table)
    df.write.mode("overwrite").format("parquet")
      .saveAsTable(table + "__stage")
    installStage(spark, table)
  }

  /** The swap tail shared by [[replaceBucketed]]/[[replaceTable]]:
    * `<table>__stage` (complete, committed) replaces `table` via
    * rename-out → rename-in → drop-old. */
  private def installStage(spark: SparkSession, table: String): Unit = {
    val old = table + "__old"
    spark.sql(s"DROP TABLE IF EXISTS $old") // stale from a prior crash
    try {
      if (spark.catalog.tableExists(table))
        spark.sql(s"ALTER TABLE $table RENAME TO $old")
      spark.sql(s"ALTER TABLE ${table}__stage RENAME TO $table")
    } catch {
      // a READER's recoverSwap can win the rename-in race (it observes
      // the unbound instant and installs the stage itself); the
      // writer's ALTER then throws even though the swap SUCCEEDED —
      // the same swallow-iff-resolved guard recoverSwap documents,
      // without which the whole maintenance job dies on a completed
      // install. Anything else (stage gone AND table unbound — a
      // genuinely broken catalog) still surfaces.
      case _: Exception if spark.catalog.tableExists(table) &&
          !spark.catalog.tableExists(table + "__stage") => ()
    }
    spark.sql(s"DROP TABLE IF EXISTS $old")
  }

  /** Recovery probe for a swap interrupted between the two renames
    * (or after rename-out, before rename-in): if `table` is unbound
    * but a `__stage` or `__old` twin exists, install it — stage
    * preferred, it is the COMPLETE newer version (saveAsTable
    * registers a table only after its write committed; a write that
    * died mid-flight leaves no catalog entry to mis-install). A
    * no-op whenever the table resolves, so readers pay one catalog
    * existence check on the happy path.
    *
    * CONCURRENCY CONTRACT (ADVICE r15): the serving-table swaps
    * assume ONE writer per table — the cron-job deployment model this
    * repo targets (one `JOB=…` run owns its index bundle; concurrent
    * writers would need a catalog with real transactions, which plain
    * Hive-style metastores don't offer). Under that assumption the
    * only race left is a READER's recovery probe colliding with
    * another reader's (both observe the unbound instant of the same
    * crashed swap) or with the writer's own rename-in. Check-then-
    * rename is not atomic, so the loser's ALTER throws — benign,
    * because someone installed a valid version. The guard below
    * swallows the failure iff a re-probe shows the table resolved;
    * anything else (a genuinely broken catalog) still surfaces. */
  def recoverSwap(spark: SparkSession, table: String): Unit =
    if (!spark.catalog.tableExists(table)) {
      try {
        if (spark.catalog.tableExists(table + "__stage"))
          spark.sql(s"ALTER TABLE ${table}__stage RENAME TO $table")
        else if (spark.catalog.tableExists(table + "__old"))
          spark.sql(s"ALTER TABLE ${table}__old RENAME TO $table")
      } catch {
        case _: Exception if spark.catalog.tableExists(table) => () // lost a benign race; table serves
      }
    }

  /** `batch` minus the rows whose `key` already exists in `big` — the
    * re-run idempotence guard of the index-maintenance jobs, shaped so
    * the BIG side never shuffles: a plain `batch LEFT ANTI big.keys`
    * plans a sort-merge join that shuffles every index id per daily
    * batch (id-grain but O(index) — the wrong cost class for a guard).
    * Instead the batch's distinct keys (counted — one batch-sized
    * pass) BROADCAST and probe the big side as a semi-join, so the
    * index scan stays narrow and exchange-free; the overlap that
    * survives is ≤ batch-sized and broadcasts back for the anti.
    * Above `broadcastIdCap` keys (default 4M ≈ 32 MB of longs) the
    * guard falls back to the shuffle anti-join — and at the scale
    * where even that hurts, [[deliverOnce]]'s delivery-manifest check
    * (did THIS batch already land?) short-circuits the data-level
    * guard entirely; this operator keeps the exact per-row semantics
    * for everything below that. PartitioningSpec pins result equality
    * with the plain anti and the big side's exchange-free plan under
    * the cap. */
  /** The shared broadcast-id bound (~4M longs ≈ 32 MB) every
    * batch-id-set broadcast in the maintenance paths checks against
    * before hinting — ONE constant so retuning for a different
    * broadcast limit cannot miss a site. */
  val BroadcastIdCap: Long = 4000000L

  def newKeysOnly(batch: DataFrame, big: DataFrame, key: String,
                  broadcastIdCap: Long = BroadcastIdCap): DataFrame = {
    val ids = batch.select(col(key)).distinct()
    if (ids.count() <= broadcastIdCap) {
      val overlap = big.select(col(key))
        .join(broadcast(ids), Seq(key), "left_semi").distinct()
      batch.join(broadcast(overlap), Seq(key), "left_anti")
    } else
      batch.join(big.select(col(key)).distinct(), Seq(key), "left_anti")
  }

  /** The members of `ids` that exist in `big` — [[newKeysOnly]]'s
    * complement, in the same big-side-never-shuffles shape: `big`
    * streams as a narrow scan probed by the BROADCAST id set, and
    * the ≤ ids-sized survivors dedup after. The naive spelling
    * (`ids ⋉ big`) puts the big relation on the semi-join's
    * non-broadcastable build side and shuffles it once per batch —
    * the takedown-path hazard this helper retires for the tombstone
    * and delete-delta writers. Takedown sets are batch-sized by
    * contract, but the contract is enforced, not assumed: above
    * `broadcastIdCap` keys (the same 4M ≈ 32 MB bound as
    * [[newKeysOnly]] — an id set past it would blow Spark's
    * broadcast limit and fail the whole takedown run) the probe
    * falls back to the plain shuffle semi-join, which completes at
    * any id-set size. Equality with the plain semi-join and the big
    * side's exchange-free plan under the cap are pinned in
    * PartitioningSpec. */
  def keysInBig(ids: DataFrame, big: DataFrame, key: String,
                broadcastIdCap: Long = BroadcastIdCap): DataFrame = {
    val k = ids.select(col(key)).distinct()
    if (k.count() <= broadcastIdCap)
      big.select(col(key))
        .join(broadcast(k), Seq(key), "left_semi")
        .distinct()
    else
      k.join(big.select(col(key)), Seq(key), "left_semi")
  }

  /** The bucket spec of a serving table, from the CATALOG — the one
    * place every maintenance path reads it (a caller-supplied bucket
    * count that disagreed with the table would silently re-bucket;
    * see `Ann.removeIvfVectors`'s scaladoc). Converges a swap that
    * crashed in the unbound-name window BEFORE the metadata lookup,
    * which would otherwise throw where the read path would have
    * healed. */
  def bucketSpecOf(s: SparkSession, table: String)
      : org.apache.spark.sql.catalyst.catalog.BucketSpec = {
    recoverSwap(s, table)
    // parse, don't wrap: TableIdentifier(name) treats "db.tbl" as one
    // unparsed part, which would resolve against the current database
    // and miss a table the recovery probe above just found
    s.sessionState.catalog
      .getTableMetadata(
        s.sessionState.sqlParser.parseTableIdentifier(table))
      .bucketSpec
      .getOrElse(throw new IllegalArgumentException(
        s"$table has no bucket spec — not a serving table"))
  }

  /** Delivery-manifest idempotence — the guard shape [[newKeysOnly]]'s
    * scaladoc names for the scale where even the fallback shuffle
    * anti-join hurts: instead of asking the DATA which rows are new,
    * ask a tiny per-table manifest whether THIS batch already landed.
    * The check is a `head(1)` over a |delivered batches|-row table —
    * independent of both index and batch size, so a crashed daily
    * cron's re-run skips the whole append body without touching the
    * index or re-reading the feed. The key records only AFTER `body`
    * returns, so the one crash window (body committed, key
    * unrecorded) replays the body on re-run — which is why the
    * manifest COMPOSES WITH, never replaces, the data-level guards:
    * the replayed body converges through them ([[newKeysOnly]] /
    * `appendIndexTables`' doc-id guard). With `key = None` the
    * manifest is bypassed — callers without a feed-supplied batch id
    * keep pure data-level idempotence. Returns true iff the body ran.
    * Single-writer per table, like every serving swap
    * ([[recoverSwap]]'s contract). */
  def deliverOnce(s: SparkSession, table: String, key: Option[String],
                  manifestCap: Long = 10000L)
                 (body: => Unit): Boolean = {
    val man = table + "__manifest"
    key match {
      case None => body; true
      case Some(k) =>
        recoverSwap(s, man)
        if (s.catalog.tableExists(man) &&
            s.table(man).filter(col("batch_key") === k).head(1).nonEmpty)
          false
        else {
          body
          import s.implicits._
          val row = Seq(k).toDF("batch_key")
          if (s.catalog.tableExists(man)) {
            row.write.mode("append").format("parquet").saveAsTable(man)
            // retention (ADVICE r16): one parquet append per batch
            // forever is a slow leak for a long-lived cron, and each
            // check scans the whole manifest. Past the cap, compact
            // to the newest half by batch-key order (keys are the
            // cron's ISO dates, so lexicographic IS temporal).
            // Dropping an ancient key is safe by the composition
            // contract above: its redelivery replays the body and
            // converges through the data-level guards, the same path
            // as the body-committed/key-unrecorded crash window.
            if (s.table(man).count() > manifestCap)
              replaceTable(s, man, s.table(man)
                .orderBy(col("batch_key").desc)
                .limit(math.max(1L, manifestCap / 2).toInt))
          } else replaceTable(s, man, row)
          true
        }
    }
  }

  /** Write a directory-partitioned parquet layout (`path/key=value/…`)
    * — the lake-output analog of the reference's per-term file
    * partitioning (S7/S8): one directory per key value, so any later
    * read with a key predicate prunes to the matching directories
    * before listing a single data file (PartitionFilters at the scan,
    * verified in PartitioningSpec). Dynamic overwrite replaces only
    * the partitions present in `df` — the idempotent per-term refresh
    * contract (T6) on the lake face: re-running a term's extract
    * rewrites that term's directory and no other. */
  def writePartitioned(df: DataFrame, path: String,
                       keys: Seq[String]): Unit = {
    val w = df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
    (if (keys.isEmpty) w else w.partitionBy(keys: _*)).parquet(path)
  }

  /** Guarantee a floor of scan parallelism for NARROW pipelines.
    *
    * A fully narrow plan (per-row fingerprints, signature folds)
    * inherits the file scan's split count, and a small file — or a
    * single parquet row group, which cannot be split at all — scans as
    * ONE partition, serializing every downstream map on one core. At
    * warehouse scale the scan provides ample splits and this is a
    * strict NO-OP; only when the source has fewer than half the
    * cluster's cores does it insert one hash repartition on `keyCol`
    * (deterministic, row-sized — cheap next to the narrow work it
    * parallelizes). The partition-count probe is planning-time only
    * (split enumeration; no job runs). */
  def ensureParallelism(df: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val target = df.sparkSession.sparkContext.defaultParallelism
    // walk down through narrow single-child nodes to the first
    // partitioning-relevant one: an EXPLICIT repartition/coalesce
    // there caps everything downstream regardless of what shuffles
    // beneath it — a join followed by coalesce(1) is exactly the
    // starved tail this helper exists to widen (ADVICE r16: the old
    // wide-anywhere early return silently skipped it). Its target
    // count sits in the plan, so the decision is static — no probe.
    @annotation.tailrec
    def firstShaping(p: LogicalPlan): LogicalPlan = p match {
      case _: Join | _: Aggregate | _: Sort | _: Window => p
      case _: Repartition | _: RepartitionByExpression |
           _: RebalancePartitions => p
      case _ if p.children.sizeIs == 1 => firstShaping(p.children.head)
      case _ => p
    }
    firstShaping(df.queryExecution.optimizedPlan) match {
      case r: Repartition if r.numPartitions * 2 < target =>
        df.repartition(target, col(keyCol))
      case r: RepartitionByExpression
          if r.optNumPartitions.exists(_ * 2 < target) =>
        df.repartition(target, col(keyCol))
      case _: Repartition | _: RepartitionByExpression |
           _: RebalancePartitions =>
        df // explicitly shaped wide enough (or AQE-rebalanced)
      case _: Join | _: Aggregate | _: Sort | _: Window =>
        df // wide top: spark.sql.shuffle.partitions already applies
      case other =>
        // narrow to a multi-child node: probe ONLY when no wide op
        // hides below — under AQE the partition-count probe would
        // EXECUTE buried shuffle stages (AdaptiveSparkPlanExec
        // materializes on toRdd), turning a "planning-time only"
        // probe into the whole upstream job
        val wide = other.collectFirst {
          case _: Join => (); case _: Aggregate => ()
          case _: Sort => (); case _: Window => ()
        }.nonEmpty
        if (wide) df
        // toRdd, not df.rdd: the probe needs only the physical
        // partition count, and df.rdd would additionally plan (and
        // cache on the df) the InternalRow→Row deserialization
        // conversion nobody executes
        else if (df.queryExecution.toRdd.getNumPartitions * 2 < target)
          df.repartition(target, col(keyCol))
        else df
    }
  }
}
