package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Source-layer contracts: lowercase normalization, and the events
  * TIMESTAMP(NANOS) rebuild (events-only, floor semantics). */
class TablesSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  test("lowercased normalizes mixed-case columns (jobs.py:177 contract)") {
    val df = Seq((1, "x")).toDF("LDAP_UID", "Affiliations")
    assert(Tables.lowercased(df).columns.toSeq ==
      Seq("ldap_uid", "affiliations"))
  }

  test("events ts long→timestamp uses floor division (pre-1970 safe)") {
    val dir = tempDir("tables_spec").toString
    // 1500 ns → 1 µs; -1500 ns → floor(-1.5 µs) = -2 µs, NOT -1 (trunc)
    Seq((1L, 1500L), (2L, -1500L), (3L, 0L))
      .toDF("event_id", "ts").write.mode("overwrite")
      .parquet(s"$dir/events.parquet")
    val micros = Tables(spark, dir, "events")
      .select($"event_id", unix_micros($"ts").as("us"))
      .orderBy("event_id").as[(Long, Long)].collect()
    assert(micros.toSeq == Seq((1L, 1L), (2L, -2L), (3L, 0L)))
  }

  test("events ts TIMESTAMP_NTZ is cast to TIMESTAMP, value-exact under UTC") {
    // The regenerated fixtures ship ts as parquet TIMESTAMP(MICROS,
    // isAdjustedToUTC=false) → TIMESTAMP_NTZ, which unix_micros and
    // INTERVAL arithmetic reject. The source layer casts it to
    // TIMESTAMP; under the pinned UTC session zone the epoch value is
    // unchanged — pin both the type and the exact micros.
    val dir = tempDir("tables_ntz").toString
    spark.sql("SELECT 1L AS event_id, " +
        "TIMESTAMP_NTZ'2024-03-01 12:30:45.123456' AS ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val df = Tables(spark, dir, "events")
    assert(df.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val us = df.select(unix_micros($"ts")).as[Long].head()
    // 2024-03-01T12:30:45.123456Z epoch micros, computed independently
    val expect = java.time.Instant.parse("2024-03-01T12:30:45.123456Z")
    assert(us == expect.getEpochSecond * 1000000L + expect.getNano / 1000L)
  }

  test("jdbc source round-trips an embedded Derby table with pushdown") {
    // S2 end-to-end against a real database — embedded Derby (ships
    // with Spark for the Hive metastore): partitioned parallel read,
    // lowercase contract, and the filter reaching the database as a
    // pushed predicate rather than a post-scan Spark filter.
    val dbDir = tempDir("derby_spec").toString
    val url = s"jdbc:derby:$dbDir/graftdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE ENROLLMENTS (ID INT NOT NULL, LDAP_UID VARCHAR(16))")
      val ins = conn.prepareStatement("INSERT INTO ENROLLMENTS VALUES (?, ?)")
      (1 to 20).foreach { i =>
        ins.setInt(1, i); ins.setString(2, s"uid$i"); ins.addBatch()
      }
      ins.executeBatch()
    } finally conn.close()

    val df = Tables.jdbc(spark, url, "ENROLLMENTS",
      partitionColumn = "ID", lowerBound = 1L, upperBound = 21L,
      numPartitions = 4)
    assert(df.columns.toSeq == Seq("id", "ldap_uid"), "lowercase contract")
    assert(df.rdd.getNumPartitions == 4, "partitioned parallel extract")
    assert(df.count() == 20)

    val filtered = df.filter(col("id") > 15)
    assert(filtered.count() == 5)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan"),
      s"filter must reach the database scan:\n$plan")
  }

  test("jdbcAutoBounds derives the partition window from the data") {
    val dbDir = tempDir("derby_auto").toString
    val url = s"jdbc:derby:$dbDir/graftdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE EXTRACT (ID INT NOT NULL, V VARCHAR(8))")
      st.execute("CREATE TABLE EMPTYT (ID INT NOT NULL, V VARCHAR(8))")
      val ins = conn.prepareStatement("INSERT INTO EXTRACT VALUES (?, ?)")
      // ids deliberately NOT starting at 1 and not dense: the derived
      // window must come from the data, not an assumed origin
      (100 to 219).foreach { i =>
        ins.setInt(1, i); ins.setString(2, s"v$i"); ins.addBatch()
      }
      ins.executeBatch()
    } finally conn.close()

    val df = Tables.jdbcAutoBounds(spark, url, "EXTRACT",
      partitionColumn = "ID", numPartitions = 4)
    assert(df.columns.toSeq == Seq("id", "v"), "lowercase contract")
    assert(df.rdd.getNumPartitions == 4, "derived-bounds parallel extract")
    assert(df.count() == 120)
    // every partition carries work: the [100, 220) window splits into
    // 4 strides of 30 ids each — a mis-derived window (e.g. assumed
    // lower bound 0) would leave partitions empty and pile rows into
    // the last stride
    val sizes = df.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.forall(_ == 30), s"uneven strides: ${sizes.toSeq}")

    // no rows -> no window; degrade to a single partition, not a crash
    val empty = Tables.jdbcAutoBounds(spark, url, "EMPTYT",
      partitionColumn = "ID", numPartitions = 4)
    assert(empty.count() == 0)
    assert(empty.rdd.getNumPartitions == 1)

    // a non-numeric partition column cannot stride: loud failure
    // naming the column, not a ClassCastException from deep inside
    val err = intercept[IllegalArgumentException] {
      Tables.jdbcAutoBounds(spark, url, "EXTRACT",
        partitionColumn = "V", numPartitions = 4)
    }
    assert(err.getMessage.contains("must be numeric"))
  }

  test("a long ts column outside events is NOT reinterpreted") {
    val dir = tempDir("tables_spec2").toString
    Seq((1L, 123456789L)).toDF("id", "ts").write.mode("overwrite")
      .parquet(s"$dir/lineitem.parquet")
    val schema = Tables(spark, dir, "lineitem").schema
    assert(schema("ts").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("lake round-trip is lossless in every supported format") {
    // lineitem carries the risky types: int32, int64, double, string,
    // and a timestamp — widened here to full MICROSECOND precision
    // (a millisecond text pattern would floor it silently, the classic
    // lake-interchange corruption)
    val src = Tables(spark, "/root/testdata/sf0.001", "lineitem")
      .withColumn("l_shipdate",
        col("l_shipdate") + expr("INTERVAL '0.000123' SECOND"))
    val dir = tempDir("lake_rt").toString
    for (fmt <- Tables.lakeFormats) {
      Tables.writeLake(src, s"$dir/$fmt", fmt)
      val back = Tables.readLake(spark, s"$dir/$fmt", fmt,
        if (fmt == "csv" || fmt == "json") Some(src.schema) else None)
      assert(back.schema == src.schema, s"$fmt schema drift")
      assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty,
        s"$fmt round-trip altered rows")
    }
    // text formats refuse to read without the writer's schema: an
    // inference pass is a silent full extra scan at 100 TB
    intercept[IllegalArgumentException] {
      Tables.readLake(spark, s"$dir/csv", "csv")
    }
    intercept[IllegalArgumentException] {
      Tables.writeLake(src, s"$dir/x", "avro") // no connector jar here
    }
    // and the OTHER timestamp flavor: events.ts is zoned TimestampType
    // (rebuilt from parquet nanos), serialized with the offset-bearing
    // pattern — both flavors must survive the same writer
    val ev = Tables(spark, "/root/testdata/sf0.001", "events")
      .withColumn("ts", col("ts") + expr("INTERVAL '0.000321' SECOND"))
    for (fmt <- Seq("json", "csv")) {
      Tables.writeLake(ev, s"$dir/ev_$fmt", fmt)
      val back = Tables.readLake(spark, s"$dir/ev_$fmt", fmt, Some(ev.schema))
      assert(back.exceptAll(ev).isEmpty && ev.exceptAll(back).isEmpty,
        s"events $fmt round-trip altered rows")
    }
  }

  test("schema evolution: mergeSchema unions footers; old files read " +
    "the added column as null") {
    // a lake table gains a column mid-life — the standard append-only
    // evolution every long-lived 100 TB table goes through. mergeSchema
    // pays one footer read per file (metadata, not data) to union the
    // schemas; rows written before the column existed surface it as
    // null, and the new files' values come through intact.
    val dir = tempDir("evolve").toString
    Seq((1L, "a")).toDF("id", "name")
      .write.parquet(s"$dir/batch=1")
    Seq((2L, "b", 9L)).toDF("id", "name", "score")
      .write.parquet(s"$dir/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq ==
      Seq("batch", "id", "name", "score"))
    val rows = merged.select("id", "score").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(rows == Map(1L -> None, 2L -> Some(9L)))
  }

  test("corrupt part file: loud failure by default, explicit skip knob") {
    // a bit-rotted or half-uploaded part file inside a 100 TB table:
    // the DEFAULT contract must be a loud failure (silently dropping
    // data is the worst outcome), with spark.sql.files.ignoreCorruptFiles
    // as the explicit, operator-chosen degraded-read mode. The schema
    // is passed explicitly so footer inference doesn't mask which
    // contract is under test.
    val dir = tempDir("corrupt").toString + "/t"
    val schema = Seq((1L, "a")).toDF("id", "v").schema
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(dir)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/part-junk.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    intercept[org.apache.spark.SparkException] {
      spark.read.schema(schema).parquet(dir).count()
    }
    val conf = spark.conf
    val orig = conf.get("spark.sql.files.ignoreCorruptFiles")
    try {
      conf.set("spark.sql.files.ignoreCorruptFiles", "true")
      val back = spark.read.schema(schema).parquet(dir)
      assert(back.count() == 2)
      assert(back.select("id").collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L))
    } finally conf.set("spark.sql.files.ignoreCorruptFiles", orig)
  }
}
