package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Partitioning
import graft.sources.Tables

/** Shuffle-shaping operators: salting preserves semantics; bucketing
  * removes the join exchange. */
class PartitioningSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("saltedJoin equals the plain inner join") {
    val o = Tables(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val c = Tables(spark, sf, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_name"))
    val plain = o.join(c, Seq("o_custkey"), "inner")
      .agg(count(lit(1)), sum(round(col("o_totalprice") * 100)
        .cast("long"))).head()
    val salted = Partitioning.saltedJoin(o, c, "o_custkey", 8)
      .agg(count(lit(1)), sum(round(col("o_totalprice") * 100)
        .cast("long"))).head()
    assert(plain == salted)
  }

  test("salting spreads byte-identical duplicate rows — the replicated " +
      "hot-key shape the whole-row-hash salt silently un-salted") {
    import spark.implicits._
    val dup = Seq.fill(400)(("hot", 1L)).toDF("k", "v").repartition(4)
    // result parity on a duplicates-only input (salt-agnostic results)
    val st = Partitioning.saltedStats(dup, "k", "v", 8).collect()(0)
    assert(st.getLong(1) == 400L && st.getLong(2) == 400L)
    val dim = Seq(("hot", "d")).toDF("k", "name")
    assert(Partitioning.saltedJoin(dup, dim, "k", 8).count() == 400L)
    // the spreading itself: the positional salt lands a partition's
    // byte-identical rows on EVERY salt value; the old whole-row hash
    // gave all 400 copies ONE salt — zero spreading on exactly the
    // duplicate-heavy hot key the operator exists to fix
    val spread = dup.withColumn("__salt",
        pmod(monotonically_increasing_id(), lit(8L)).cast("int"))
      .select("__salt").distinct().count()
    assert(spread == 8L, s"duplicates spread over $spread salts, want 8")
  }

  test("saltedStats equals the unsalted single-phase aggregate") {
    val d = Tables(spark, sf, "documents")
    val plain = d.groupBy("lang").agg(count(lit(1)).as("n_rows"),
        sum("n_chars").as("sum_val"), min("n_chars").as("min_val"),
        max("n_chars").as("max_val"))
      .orderBy("lang").collect().map(_.toSeq).toSeq
    val salted = Partitioning.saltedStats(d, "lang", "n_chars", 8)
      .orderBy("lang").collect().map(_.toSeq).toSeq
    assert(plain == salted)
  }

  test("packShards equals the single-window reference computation") {
    import org.apache.spark.sql.expressions.Window
    val d = Tables(spark, sf, "documents")
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val ref = d.withColumn("cum", sum("n_tokens").over(w))
      .select(col("source"), col("doc_id"),
        floor((col("cum") - col("n_tokens")) / 2000L).as("shard"))
      .orderBy("source", "doc_id")
      .collect().map(_.toSeq).toSeq
    val got = Partitioning
      .packShards(d, "source", "doc_id", "n_tokens", 2000L)
      .select("source", "doc_id", "shard")
      .orderBy("source", "doc_id")
      .collect().map(_.toSeq).toSeq
    assert(got == ref)
  }

  test("packShards uses a ROWS running sum: duplicate ids (redelivered " +
      "rows) don't share one inclusive total") {
    import spark.implicits._
    // two rows with the SAME id and EQUAL weight (order-independent):
    // ROWS prefixes give exclusive starts {0, 1500} → shards {0, 1};
    // the default RANGE frame hands both peers the shared inclusive
    // cum 3000 → starts {1500, 1500} → shards {1, 1}, losing shard 0
    val d = Seq(("s", 1L, 1500L), ("s", 1L, 1500L))
      .toDF("source", "doc_id", "n_tokens")
    val shards = graft.operators.Partitioning
      .packShards(d, "source", "doc_id", "n_tokens", 1000L)
      .select("shard").collect().map(_.getLong(0)).sorted.toSeq
    assert(shards == Seq(0L, 1L),
      s"duplicate-id rows shared one inclusive total (RANGE frame): " +
        s"shards=$shards")
  }

  test("packShards keeps NULL group keys and survives all-NULL weights") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // a NULL-keyed group (window PARTITION BY semantics: NULLs form one
    // group) plus a group whose weights are ALL NULL — the equi-join
    // used to drop the former and the offsets collect NPE'd on the latter
    val d = Seq(
      (1L, "a", Some(100L)), (2L, "a", Some(300L)),
      (3L, null.asInstanceOf[String], Some(250L)),
      (4L, null.asInstanceOf[String], Some(250L)),
      (5L, "b", None), (6L, "b", None))
      .toDF("doc_id", "source", "n_tokens")
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val ref = d.withColumn("cum", sum("n_tokens").over(w))
      .select(col("doc_id"),
        floor((col("cum") - col("n_tokens")) / 200L).as("shard"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val got = Partitioning
      .packShards(d, "source", "doc_id", "n_tokens", 200L)
      .select("doc_id", "shard")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got == ref)
    assert(got.size == 6, "no row may vanish, NULL-keyed or not")
  }

  test("packShards keeps NULL-id rows, in the single window's order") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // a NULL id hashes to a NULL md5 and a NULL bucket: the bucket
    // offsets join must match it null-safely or the row vanishes
    val d = Seq(
      (Some(1L), "a", 100L), (None, "a", 150L), (Some(2L), "a", 300L),
      (None, null.asInstanceOf[String], 50L), (Some(3L), "b", 70L))
      .toDF("doc_id", "source", "n_tokens")
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("source", "doc_id", "n_tokens", "shard")
        .orderBy("source", "doc_id").collect().map(_.toSeq).toSeq
    val ref = d.withColumn("cum", sum("n_tokens").over(w))
      .withColumn("shard", floor((col("cum") - col("n_tokens")) / 200L))
    val got = Partitioning.packShards(d, "source", "doc_id", "n_tokens", 200L)
    assert(rows(got) == rows(ref))
    assert(got.count() == 5, "a NULL-id row was dropped")
  }

  test("bucketed-to-bucketed join plans without a shuffle exchange") {
    val o = Tables(spark, sf, "orders").select("o_orderkey", "o_custkey")
    val c = Tables(spark, sf, "customer").select("c_custkey", "c_name")
    // the in-memory catalog forgets tables between JVMs but their
    // warehouse directories persist — clear both before writing
    Seq("b_orders", "b_customer").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:"), t)
      if (loc.exists())
        org.apache.commons.io.FileUtils.deleteDirectory(loc)
    }
    Partitioning.writeBucketed(o, "b_orders", "o_custkey", 4)
    Partitioning.writeBucketed(
      c.withColumnRenamed("c_custkey", "o_custkey"), "b_customer",
      "o_custkey", 4)
    val joined = Partitioning.bucketed(spark, "b_orders")
      .join(Partitioning.bucketed(spark, "b_customer"), "o_custkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
    assert(joined.count() > 0)
  }

  test("ensureParallelism repartitions starved scans and no-ops otherwise") {
    import spark.implicits._
    // a single-partition source with fewer than half the cores → one
    // hash repartition to defaultParallelism
    val starved = (1L to 100L).toDF("doc_id").coalesce(1)
    val fixed = Partitioning.ensureParallelism(starved, "doc_id")
    assert(fixed.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    assert(fixed.count() == 100)
    // an already-parallel source passes through with its plan untouched
    val par = (1L to 100L).toDF("doc_id")
      .repartition(spark.sparkContext.defaultParallelism)
    assert(Partitioning.ensureParallelism(par, "doc_id") eq par)
    // a JOIN followed by coalesce(1) — the starved tail the old
    // wide-anywhere guard silently skipped (ADVICE r16): the explicit
    // coalesce caps everything downstream regardless of the join's
    // shuffle, and its target count sits in the plan, so the helper
    // must widen it (statically — no probe job)
    val dim = (1L to 100L).toDF("doc_id")
    val starvedTail = (1L to 100L).toDF("doc_id")
      .join(dim, "doc_id").coalesce(1)
    val widened = Partitioning.ensureParallelism(starvedTail, "doc_id")
    assert(widened.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism,
      "join-then-coalesce(1) tail was not widened")
    assert(widened.count() == 100)
    // a bare wide plan (no explicit shaping) still passes through —
    // its own shuffle already parallelizes it
    val wide = (1L to 100L).toDF("doc_id").join(dim, "doc_id")
    assert(Partitioning.ensureParallelism(wide, "doc_id") eq wide)
  }

  test("partitioned lake write: pruned reads, dynamic per-partition overwrite") {
    val base = tempDir("lake").toString
    val events = Tables(spark, sf, "events")
      .withColumn("dt", to_date(col("ts")))
    Partitioning.writePartitioned(events, s"$base/events", Seq("dt"))
    val nParts = new java.io.File(s"$base/events").listFiles()
      .count(_.getName.startsWith("dt="))
    assert(nParts > 1, "fixture must span multiple dates")
    // a key predicate becomes a PartitionFilter: directories prune
    // before any data file is read
    val day = events.select(min("dt")).head().getDate(0).toString
    val rd = spark.read.parquet(s"$base/events")
      .filter(col("dt") === day)
    val scan = rd.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.contains(s"isnotnull(dt"), s"no partition pruning:\n$scan")
    val expected = events.filter(col("dt") === day).count()
    assert(rd.count() == expected && expected > 0)
    // dynamic overwrite: rewriting ONE day's rows replaces only that
    // directory — every other partition's bytes stay (T6 on the lake)
    val before = new java.io.File(s"$base/events").listFiles()
      .filter(_.getName.startsWith("dt=")).length
    Partitioning.writePartitioned(
      events.filter(col("dt") === day), s"$base/events", Seq("dt"))
    val after = new java.io.File(s"$base/events").listFiles()
      .filter(_.getName.startsWith("dt=")).length
    assert(after == before, "other partitions must survive the rewrite")
    assert(spark.read.parquet(s"$base/events").count() == events.count())
  }

  test("replaceBucketed swap is resolvable after a crash at every step") {
    import spark.implicits._
    // three generations of a tiny bucketed table, distinguishable by a
    // version column, so each simulated crash state says which data a
    // reader would see
    def gen(v: Int) = (1L to 20L).map(k => (k, v)).toDF("k", "v")
    def ver(name: String): Int =
      Partitioning.bucketed(spark, name).select(max("v")).head.getInt(0)
    def drop(names: String*): Unit = names.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists())
        org.apache.commons.io.FileUtils.deleteDirectory(loc)
    }
    val t = "swap_spec"
    drop(t, s"${t}__stage", s"${t}__old")

    // the steps of replaceBucketed(t, gen2) over a served gen1, as
    // they land in the catalog; after each we assert a reader (the
    // recoverSwap-guarded bucketed()) resolves the table, and WHICH
    // generation it sees
    Partitioning.writeBucketed(gen(1), t, "k", 2)
    // crash during the stage write: target intact and serving
    assert(ver(t) == 1)
    // crash after the stage committed, before rename-out: old serves
    Partitioning.writeBucketed(gen(2), s"${t}__stage", "k", 2)
    assert(ver(t) == 1)
    // crash between rename-out and rename-in: the serving NAME is
    // unbound — the reader must install the complete stage (gen2),
    // not fail and not resurrect old
    spark.sql(s"ALTER TABLE $t RENAME TO ${t}__old")
    assert(ver(t) == 2)
    assert(!spark.catalog.tableExists(s"${t}__stage"))
    // crash after rename-in, before drop-old: new serves, stale old
    // must not shadow it (state continues from the recovery above)
    assert(spark.catalog.tableExists(s"${t}__old"))
    assert(ver(t) == 2)
    // a legacy/rename-in-failed remnant: only __old exists
    spark.sql(s"ALTER TABLE $t RENAME TO ${t}__old2")
    spark.sql(s"DROP TABLE IF EXISTS ${t}__old")
    spark.sql(s"ALTER TABLE ${t}__old2 RENAME TO ${t}__old")
    assert(ver(t) == 2)

    // a full replace over any of those recovered states converges:
    // next generation in, no twins left behind, self-read lineage OK
    val g3 = Partitioning.bucketed(spark, t)
      .select(col("k"), (col("v") + 1).as("v")) // reads the target
    Partitioning.replaceBucketed(spark, t, g3, "k", 2)
    assert(ver(t) == 3)
    assert(!spark.catalog.tableExists(s"${t}__stage") &&
      !spark.catalog.tableExists(s"${t}__old"))

    // replaceTable (the plain sibling): same swap, same invariants
    val p = "swap_spec_plain"
    drop(p, s"${p}__stage", s"${p}__old")
    Partitioning.replaceTable(spark, p, gen(1))
    Partitioning.replaceTable(spark, p,
      spark.table(p).select(col("k"), (col("v") + 1).as("v")))
    assert(spark.table(p).select(max("v")).head.getInt(0) == 2)
    assert(!spark.catalog.tableExists(s"${p}__stage") &&
      !spark.catalog.tableExists(s"${p}__old"))
    drop(t, p)
  }

  test("newKeysOnly equals the plain anti-join and never shuffles " +
      "the big side under the broadcast cap") {
    val big = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey").as("k"), col("l_partkey").as("payload"))
    // batch: half overlapping keys, half genuinely new
    val batch = spark.range(0, 400, 1, 4)
      .selectExpr("CASE WHEN id % 2 = 0 THEN id + 1 ELSE id + 9000000 END AS k",
        "id AS v")
    val plain = batch.join(big.select("k").distinct(), Seq("k"), "left_anti")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("k", "v").collect().map(_.toSeq).toSeq
    val guarded = Partitioning.newKeysOnly(batch, big, "k")
    assert(rows(guarded) == rows(plain),
      "broadcast-overlap guard diverged from the plain anti-join")
    assert(guarded.count() > 0 && guarded.count() < batch.count(),
      "fixture vacuous: guard must drop some keys and keep some")
    // plan shape: under the cap the BIG side must plan scan →
    // broadcast-semi with no shuffle below the semi-join (a sort-merge
    // anti would shuffle every index id). Plans print top-down, so the
    // semi-join's subtree — the big scan and the broadcast ids — is
    // everything after its line; the one legitimate exchange (the
    // distinct over the ≤ batch-sized overlap) sits ABOVE it.
    // plans print the streaming (big-scan) child between the LeftSemi
    // line and its BroadcastExchange build side; the two legitimate
    // exchanges (batch-id distinct inside the broadcast build, overlap
    // distinct above the semi) are batch-bounded and sit outside it
    val plan = guarded.queryExecution.executedPlan.toString
    val semiIdx = plan.indexOf("LeftSemi")
    assert(semiIdx >= 0, s"guard lost its broadcast-semi shape:\n$plan")
    val sub = plan.substring(semiIdx)
    val streamSide = sub.substring(0, sub.indexOf("BroadcastExchange"))
    assert(!streamSide.contains("Exchange hashpartitioning"),
      s"guard shuffled the big side under the broadcast cap:\n$plan")
    assert(streamSide.contains("FileScan"),
      s"big side no longer a direct scan:\n$plan")
    // above the cap: same rows via the fallback shuffle anti
    val fallback = Partitioning.newKeysOnly(batch, big, "k",
      broadcastIdCap = 1L)
    assert(rows(fallback) == rows(plain),
      "fallback path diverged from the plain anti-join")
  }

  test("keysInBig equals the plain semi-join and never shuffles the " +
      "big side (the takedown membership probe direction)") {
    val big = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey").as("k"), col("l_partkey").as("payload"))
    val batch = spark.range(0, 400, 1, 4)
      .selectExpr("CASE WHEN id % 2 = 0 THEN id + 1 ELSE id + 9000000 END AS k")
    val plain = batch.select("k").distinct()
      .join(big.select("k"), Seq("k"), "left_semi")
    def keys(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.getLong(0)).sorted.toSeq
    val probed = Partitioning.keysInBig(batch, big, "k")
    assert(keys(probed) == keys(plain),
      "flipped membership probe diverged from the plain semi-join")
    assert(probed.count() > 0 && probed.count() < 400,
      "fixture vacuous: some ids must be members, some not")
    // plan shape: the big relation streams under the broadcast semi —
    // no shuffle between the semi-join and the big scan (the naive
    // `ids semi big` direction plans a sort-merge semi that shuffles
    // the whole big relation per batch)
    val plan = probed.queryExecution.executedPlan.toString
    val semiIdx = plan.indexOf("LeftSemi")
    assert(semiIdx >= 0, s"probe lost its broadcast-semi shape:\n$plan")
    val sub = plan.substring(semiIdx)
    val streamSide = sub.substring(0, sub.indexOf("BroadcastExchange"))
    assert(!streamSide.contains("Exchange hashpartitioning"),
      s"membership probe shuffled the big side:\n$plan")
    assert(streamSide.contains("FileScan"),
      s"big side no longer a direct scan:\n$plan")
    // above the cap the probe falls back to the plain shuffle semi
    // instead of failing the run on Spark's broadcast limit
    val fallback = Partitioning.keysInBig(batch, big, "k",
      broadcastIdCap = 1L)
    assert(keys(fallback) == keys(plain),
      "over-cap fallback diverged from the plain semi-join")
  }

  test("deliverOnce runs a keyed body exactly once, bypasses with no " +
      "key, and heals a dangling manifest swap") {
    val t = "deliver_once_spec"
    try {
      var runs = 0
      // first delivery of day-1 runs the body and records the key
      assert(Partitioning.deliverOnce(spark, t, Some("d1")) { runs += 1 })
      assert(runs == 1)
      // redelivery of day-1 short-circuits on the manifest row
      assert(!Partitioning.deliverOnce(spark, t, Some("d1")) { runs += 1 })
      assert(runs == 1, "manifest failed to skip a delivered batch")
      // a new day runs again
      assert(Partitioning.deliverOnce(spark, t, Some("d2")) { runs += 1 })
      assert(runs == 2)
      // keyless callers keep pure data-level idempotence: always run,
      // and never touch the manifest
      val manRows = spark.table(s"${t}__manifest").count()
      assert(Partitioning.deliverOnce(spark, t, None) { runs += 1 })
      assert(runs == 3 &&
        spark.table(s"${t}__manifest").count() == manRows,
        "keyless delivery must bypass the manifest entirely")
      // a manifest stranded mid-swap (crash in the unbound-name
      // window) still skips: the read path heals it first
      spark.sql(s"ALTER TABLE ${t}__manifest RENAME TO ${t}__manifest__stage")
      assert(!Partitioning.deliverOnce(spark, t, Some("d2")) { runs += 1 })
      assert(runs == 3, "dangling manifest swap lost delivered keys")
      // retention: past the cap the manifest compacts to the newest
      // half by key order — it never grows unboundedly (ADVICE r16).
      // Recent keys still skip; a trimmed ancient key replays its
      // body and converges through the data-level guards beneath.
      for (d <- 3 to 8)
        Partitioning.deliverOnce(spark, t, Some(s"d$d"),
          manifestCap = 4L) { runs += 1 }
      assert(spark.table(s"${t}__manifest").count() <= 4L,
        "manifest retention did not trim past the cap")
      assert(!Partitioning.deliverOnce(spark, t, Some("d8"),
        manifestCap = 4L) { runs += 1 }, "newest key must still skip")
      val runsBefore = runs
      assert(Partitioning.deliverOnce(spark, t, Some("d1"),
        manifestCap = 4L) { runs += 1 },
        "a trimmed ancient key must replay its body")
      assert(runs == runsBefore + 1)
    } finally
      for (sx <- Seq("", "__stage", "__old"))
        spark.sql(s"DROP TABLE IF EXISTS ${t}__manifest$sx")
  }

  test("keyset pagination plans as pushed range scan + distributed top-k") {
    val df = SparkEntry.queries("rel_keyset_pagination")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // the cursor predicate must reach the parquet scan...
    assert(plan.contains("GreaterThan(o_orderkey,400)"),
      s"range predicate not pushed to the scan:\n$plan")
    // ...and the page must be a distributed top-k, not a global sort
    // behind a single-partition row_number window
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected distributed top-k:\n$plan")
    assert(!plan.contains("Window"), s"keyset paging must not window:\n$plan")
  }
}
