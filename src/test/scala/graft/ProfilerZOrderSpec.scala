package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Profiler, ZOrder}
import graft.sources.Tables

/** Single-pass profiler: exact/approx agreement, null accounting, and
  * the one-scan plan shape. Z-order: key bijectivity, chunk locality
  * (the data-skipping property), and file-level bounds after a
  * z-ordered write. */
class ProfilerZOrderSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("profile counts nulls and distincts exactly") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some("a")), (Some(1L), None),
      (Some(3L), Some("b")), (None, Some("a"))
    ).toDF("n", "s")
    val rows = Profiler.profile(df, Seq("n", "s")).collect()
    val n = rows.find(_.getString(0) == "n").get
    assert(n.getLong(1) == 1L)        // n_nulls
    assert(n.getLong(2) == 2L)        // n_distinct (nulls excluded)
    assert(n.getDouble(3) == 1.0 && n.getDouble(4) == 3.0)
    assert(n.isNullAt(5) && n.isNullAt(6))
    val s = rows.find(_.getString(0) == "s").get
    assert(s.getLong(1) == 1L && s.getLong(2) == 2L)
    assert(s.isNullAt(3) && s.isNullAt(4))
    assert(s.getString(5) == "a" && s.getString(6) == "b")
  }

  test("approxProfile matches exact within the configured rsd") {
    val o = Tables(spark, sf, "orders")
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus")
    val exact = Profiler.profile(o, cols).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val approx = Profiler.approxProfile(o, cols, rsd = 0.02).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    for ((c, e) <- exact) {
      val a = approx(c)
      assert(math.abs(a - e).toDouble / e <= 0.10,
        s"$c: approx $a vs exact $e drifted past 10%")
    }
  }

  test("profile of an empty table: zero counts, null extrema") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("n", "s")
    val rows = Profiler.profile(empty, Seq("n", "s")).collect()
    assert(rows.length == 2)
    assert(rows.forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L))
    assert(rows.forall(r => r.isNullAt(3) && r.isNullAt(5)))
  }

  test("profile rejects unknown columns eagerly") {
    val o = Tables(spark, sf, "orders")
    val e = intercept[IllegalArgumentException] {
      Profiler.profile(o, Seq("o_orderkey", "no_such_col"))
    }
    assert(e.getMessage.contains("no_such_col"))
  }

  test("profile handles a column whose NAME contains a dot") {
    import spark.implicits._
    val df = Seq((1L, "x"), (2L, null.asInstanceOf[String]))
      .toDF("a.b", "c.d")
    val out = graft.operators.Profiler.profile(df, Seq("a.b", "c.d"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(out("a.b") == ((0L, 2L)) && out("c.d") == ((1L, 1L)),
      s"dotted-name profile wrong: $out")
  }

  test("profile handles a column whose NAME contains a backtick") {
    // a backtick inside the name would end the quote early and throw
    // a parse error unless doubled (Spark's identifier escape) — the
    // dot fix alone left exactly this hole
    import spark.implicits._
    val df = Seq((1L, "x"), (2L, "y")).toDF("a`b", "plain")
    val out = graft.operators.Profiler.profile(df, Seq("a`b", "plain"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(out("a`b") == ((0L, 2L)) && out("plain") == ((0L, 2L)),
      s"backtick-name profile wrong: $out")
  }

  test("writeZOrdered refuses an input that already carries __zkey " +
      "instead of silently dropping the caller's column") {
    import spark.implicits._
    val df = Seq((1, 2, 9L)).toDF("a", "b", "__zkey")
    val e = intercept[IllegalArgumentException] {
      graft.operators.ZOrder.writeZOrdered(df, "a", "b", 4,
        tempDir("zk").toString, 1)
    }
    assert(e.getMessage.contains("__zkey"))
  }

  test("profile is one scan of the input") {
    val o = Tables(spark, sf, "orders")
    val scans = Profiler.profile(o, Seq("o_orderkey", "o_orderstatus"))
      .queryExecution.executedPlan.collectLeaves().size
    assert(scans == 1, s"expected a single table scan, got $scans")
  }

  test("z-key interleave is a bijection on the bit range") {
    import spark.implicits._
    val n = 1 << 4
    val grid = (0 until n).flatMap(a => (0 until n).map(b => (a.toLong,
      b.toLong))).toDF("a", "b")
    val keys = grid.select(ZOrder.key2(col("a"), col("b"), 4).as("z"))
      .collect().map(_.getLong(0))
    assert(keys.toSet.size == n * n, "z-keys must be distinct")
    assert(keys.min == 0L && keys.max == (n * n - 1).toLong,
      "z-keys must cover [0, 4^bits) exactly")
  }

  test("z-order chunks bound BOTH dimensions; 1-D sort bounds only one") {
    import spark.implicits._
    // 64x64 grid, 16 contiguous chunks of the respective sort orders
    val n = 64
    val grid = (0 until n).flatMap(a => (0 until n).map(b =>
      (a.toLong, b.toLong))).toDF("a", "b")
    val z = grid.withColumn("k", ZOrder.key2(col("a"), col("b"), 6))
      .withColumn("chunk", floor(col("k") / lit(n * n / 16)))
    val zSpans = z.groupBy("chunk")
      .agg((max("a") - min("a")).as("sa"), (max("b") - min("b")).as("sb"))
      .collect()
    // 16 z-chunks of a 64x64 grid = 4x4 cells of 16x16: span 15 each
    assert(zSpans.forall(r => r.getLong(1) <= 15 && r.getLong(2) <= 15))
    // the 1-D sort comparison: chunks of the a-sorted order bound a
    // tightly but leave b at full span
    val lin = grid.withColumn("k", col("a") * n + col("b"))
      .withColumn("chunk", floor(col("k") / lit(n * n / 16)))
    val linSpans = lin.groupBy("chunk")
      .agg((max("a") - min("a")).as("sa"), (max("b") - min("b")).as("sb"))
      .collect()
    assert(linSpans.forall(_.getLong(2) == (n - 1).toLong),
      "a-sorted chunks should leave b unbounded (full span)")
  }

  test("writeZOrdered produces files with bounded per-file rectangles") {
    import spark.implicits._
    val n = 32
    val grid = (0 until n).flatMap(a => (0 until n).map(b =>
      (a.toLong, b.toLong))).toDF("a", "b")
    val dir = tempDir("graft-zorder")
      .toString
    try {
      ZOrder.writeZOrdered(grid, "a", "b", 5, dir, numFiles = 16)
      val perFile = spark.read.parquet(dir)
        .withColumn("f", input_file_name())
        .groupBy("f")
        .agg((max("a") - min("a")).as("sa"), (max("b") - min("b")).as("sb"))
        .collect()
      assert(perFile.length > 1, "expected multiple output files")
      // every file's rectangle is far below the full 31 span in BOTH
      // dims (z-range chunks are at worst 2 adjacent grid cells wide)
      assert(perFile.forall(r => r.getLong(1) <= 15 && r.getLong(2) <= 15),
        perFile.map(_.toSeq).mkString(", "))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
    }
  }
}
