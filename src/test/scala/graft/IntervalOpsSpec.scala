package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the gaps-and-islands faces (ev_scd2,
  * ev_activity_streaks) and the containment near-dup — properties the
  * DuckDB hash-compare can't express because they hold *within* one
  * engine's output: interval chains must tile, streaks must be maximal,
  * containment must dominate Jaccard. */
class IntervalOpsSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private lazy val scd = graft.queries.Events.scd2.fn(spark, sf)
    .collect().toSeq
  private lazy val streaks = graft.queries.Events.activityStreaks
    .fn(spark, sf).collect().toSeq

  test("scd2: per-user intervals chain exactly (valid_to = next valid_from)") {
    scd.groupBy(_.getLong(0)).foreach { case (user, rows) =>
      val sorted = rows.sortBy(r => (r.getTimestamp(2).getTime,
        r.getTimestamp(2).getNanos))
      sorted.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a.getTimestamp(3) == b.getTimestamp(2),
            s"user $user: interval chain broken at ${a.getTimestamp(3)}")
        case _ => ()
      }
    }
  }

  test("scd2: exactly one open (is_current) interval per user") {
    scd.groupBy(_.getLong(0)).foreach { case (user, rows) =>
      val open = rows.count(r => r.isNullAt(3))
      assert(open == 1, s"user $user has $open open intervals")
      assert(rows.forall(r => r.getBoolean(4) == r.isNullAt(3)),
        s"user $user: is_current disagrees with valid_to IS NULL")
    }
  }

  test("scd2: consecutive intervals never share a type, counts tile the stream") {
    scd.groupBy(_.getLong(0)).foreach { case (user, rows) =>
      val sorted = rows.sortBy(r => (r.getTimestamp(2).getTime,
        r.getTimestamp(2).getNanos))
      sorted.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a.getString(1) != b.getString(1),
            s"user $user: adjacent runs share type ${a.getString(1)}")
        case _ => ()
      }
    }
    val events = graft.sources.Tables(spark, sf, "events")
    val total = events.count()
    assert(scd.map(_.getLong(5)).sum == total,
      "island n_events must sum to the full stream")
  }

  test("streaks: span = n_days - 1 and adjacent streaks leave a real gap") {
    def days(r: Row, i: Int) = r.getDate(i).toLocalDate
    streaks.foreach { r =>
      val span = java.time.temporal.ChronoUnit.DAYS.between(
        days(r, 1), days(r, 2))
      assert(span == r.getLong(3) - 1,
        s"streak span $span != n_days-1 for user ${r.getLong(0)}")
    }
    streaks.groupBy(_.getLong(0)).foreach { case (user, rows) =>
      rows.sortBy(_.getDate(1).toLocalDate.toEpochDay).sliding(2).foreach {
        case Seq(a, b) =>
          val gap = java.time.temporal.ChronoUnit.DAYS.between(
            days(a, 2), days(b, 1))
          assert(gap >= 2,
            s"user $user: streaks touch (gap $gap) — not maximal")
        case _ => ()
      }
    }
  }

  test("streaks: n_events sums to the user's event count") {
    val events = graft.sources.Tables(spark, sf, "events")
    val perUser = events.groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    streaks.groupBy(_.getLong(0)).foreach { case (user, rows) =>
      assert(rows.map(_.getLong(4)).sum == perUser(user),
        s"user $user: streak events don't tile the stream")
    }
  }

  test("containment dominates jaccard and both stay in [0,1]") {
    val got = graft.queries.Dedup.containment.fn(spark, sf).collect()
    assert(got.nonEmpty, "LSH candidates exist at sf0.001")
    got.foreach { r =>
      val (c, j) = (r.getDouble(2), r.getDouble(3))
      assert(c >= j - 1e-12, s"containment $c < jaccard $j")
      assert(c >= 0.0 && c <= 1.0 && j >= 0.0 && j <= 1.0)
      assert(r.getBoolean(4) == (c >= 0.7 && j < 0.7))
    }
  }

  test("containment flags a doc wholly quoted inside a longer one") {
    import spark.implicits._
    import graft.operators.TextDedup
    import org.apache.spark.sql.functions._
    // short doc's shingles are a strict subset of the long doc's
    val short = "alpha beta gamma delta epsilon zeta"
    val long = short + " eta theta iota kappa lambda mu nu xi " +
      "omicron pi rho sigma tau upsilon phi chi psi omega " +
      "one two three four five six seven eight nine ten"
    val docs = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
    val sh = TextDedup.shingles(docs)
    val inter = sh.filter(col("doc_id") === 1).select("shingle")
      .intersect(sh.filter(col("doc_id") === 2).select("shingle"))
      .count()
    val nShort = sh.filter(col("doc_id") === 1).count()
    assert(inter == nShort, "every short-doc shingle appears in the long doc")
    val jaccard = inter.toDouble / sh.select("shingle").distinct().count()
    assert(jaccard < 0.7, "Jaccard alone would miss this pair")
  }

  // ---- interval sweep faces (ev_concurrency / ev_interval_coverage) --
  // The DuckDB oracle proves cross-engine agreement; these prove the
  // SEMANTICS against an independent brute-force reimplementation in
  // plain Scala — the two can only agree if the sweep itself is right.

  private def intervals(): Seq[(String, Long, Long, Long)] = {
    import org.apache.spark.sql.functions._
    graft.sources.Tables(spark, sf, "events")
      .select(col("event_type"), col("user_id"),
        unix_micros(col("ts")).as("s"),
        (unix_micros(col("ts")) +
          greatest(round(col("value") * 1000000L).cast("long"), lit(0L)))
          .as("e"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
  }

  test("ev_concurrency peak equals a brute-force boundary scan") {
    val got = graft.queries.Events.concurrency.fn(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val byType = intervals().groupBy(_._1)
    assert(got.keySet == byType.keySet)
    byType.foreach { case (tpe, ivs) =>
      // brute force: at every boundary t, live = #started(<=t) - #ended(<=t)
      // — exactly the sweep's post-point running sum, including its
      // treatment of zero-length intervals (end delta sorts first).
      val brute = ivs.flatMap(iv => Seq(iv._3, iv._4)).distinct.map { t =>
        ivs.count(_._3 <= t) - ivs.count(_._4 <= t)
      }.max
      assert(got(tpe)._1 == brute,
        s"$tpe: sweep peak ${got(tpe)._1} != brute $brute")
      assert(got(tpe)._2 == ivs.size, s"$tpe: n_intervals")
    }
  }

  test("ev_interval_coverage equals brute-force interval merging") {
    val got = graft.queries.Events.intervalCoverage.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    intervals().groupBy(_._2).foreach { case (user, ivs) =>
      // classic sequential merge over sorted intervals
      var islands = 0L; var covered = 0L
      var curS = Long.MinValue; var curE = Long.MinValue
      ivs.map(iv => (iv._3, iv._4)).sorted.foreach { case (s, e) =>
        if (islands == 0 || s > curE) {
          if (islands > 0) covered += curE - curS
          islands += 1; curS = s; curE = e
        } else curE = math.max(curE, e)
      }
      if (islands > 0) covered += curE - curS
      assert(got(user) == ((islands, covered)),
        s"user $user: got ${got(user)}, brute ($islands, $covered)")
    }
  }

  test("ev_anomaly flags exactly the |z|>3 rows (BigInt recomputation)") {
    import org.apache.spark.sql.functions._
    val rows = graft.sources.Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"),
        round(col("value")).cast("long").as("v"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expect = rows.groupBy(_._2).flatMap { case (_, g) =>
      val n = BigInt(g.size)
      val s = g.map(r => BigInt(r._3)).sum
      val ss = g.map(r => BigInt(r._3) * r._3).sum
      g.filter { case (_, _, v) =>
        val d = n * v - s
        d * d > 9 * (n * ss - s * s)
      }.map(_._1)
    }.toSet
    val got = graft.queries.Events.anomaly.fn(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(got == expect, s"flag sets differ: got ${got.size}, expect ${expect.size}")
    assert(got.nonEmpty, "fixture should contain at least one 3-sigma outlier")
  }

  test("ev_anomaly overflow envelope guard fires loudly past n*max|v| > 1e9") {
    // magnitudes that would silently wrap the division-free z-test in
    // non-ANSI Long arithmetic must throw, not mis-rank (r10 advice)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tempDir("anomaly_guard")
      .toString
    (1 to 10).map(i => (i.toLong, "t", 2.0e8))
      .toDF("event_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[Exception] {
      graft.queries.Events.anomaly.fn(spark, dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("overflow envelope")),
      s"expected the envelope assert, got: ${messages(e).take(3)}")
  }
}
