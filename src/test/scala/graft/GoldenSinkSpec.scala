package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.Sinks

/** §2.11/§5.4 — the ordered-output contract is byte-stable: the same
  * query written twice produces identical gzip bytes (GZIPOutputStream
  * writes MTIME=0; coalesce(1) + the query's ORDER BY pin row order). */
class GoldenSinkSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  /** The bytes of the one file a delivered key holds. */
  private def partBytes(keyDir: String): Array[Byte] =
    Files.readAllBytes(Paths.get(keyDir, "part-00000.csv.gz"))

  test("gzip CSV output is byte-identical across runs") {
    val base = tempDir("golden")
    val q = SparkEntry.queries("ref_term_courses")
    Sinks.gzipCsv(q(spark, sf), base.resolve("a.csv.gz"))
    Sinks.gzipCsv(q(spark, sf), base.resolve("b.csv.gz"))
    val (a, b) = (Files.readAllBytes(base.resolve("a.csv.gz")),
      Files.readAllBytes(base.resolve("b.csv.gz")))
    assert(a.nonEmpty && java.util.Arrays.equals(a, b))
  }

  test("timestamp serialization fails loudly under a non-UTC session " +
      "TZ instead of silently shifting instants") {
    import org.apache.spark.sql.functions._
    val withTs = spark.range(1)
      .select(lit("2026-01-01 00:00:00").cast("timestamp").as("t"))
    val noTs = spark.range(1).selectExpr("id AS n")
    val tzKey = "spark.sql.session.timeZone"
    val saved = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "America/Los_Angeles")
      // a timestamp column under a shifted session TZ must throw —
      // the NTZ cast and date_format would both render LA wall times
      // while the CSV contract promises UTC instants
      val e = intercept[IllegalArgumentException] {
        Sinks.serializeTimestamps(withTs)
      }
      assert(e.getMessage.contains("UTC"))
      // a TZ-free frame has nothing to shift: no throw
      assert(Sinks.serializeTimestamps(noTs).count() == 1L)
      // UTC-equivalent zone ids render identical instants and must
      // not throw — the guard tests zone RULES, not the literal
      // string (review finding: Etc/UTC is a common infra default)
      for (tz <- Seq("Etc/UTC", "GMT", "+00:00")) {
        spark.conf.set(tzKey, tz)
        assert(Sinks.serializeTimestamps(withTs).collect()(0)
          .getString(0).endsWith(" UTC"), s"rejected equivalent $tz")
      }
    } finally spark.conf.set(tzKey, saved)
    // back under the pinned UTC session the same frame serializes
    assert(Sinks.serializeTimestamps(withTs).collect()(0).getString(0)
      .endsWith(" UTC"))
  }

  test("upload keys match the reference byte-for-byte (jobs.py:31-62)") {
    // md5("2026-08-12") = faa3edd3ef0a96a9883e52f8d1bd14fd; the three
    // key shapes — advisors under sis-data/sis-sysadm/.../advisors,
    // flat snapshot extracts under sis-data, per-term refresh groups
    // with underscore dirs + dash file names — spelled out in full.
    val d = "2026-08-12"
    val daily = s"daily/faa3edd3ef0a96a9883e52f8d1bd14fd-$d"
    assert(Sinks.advisorsKey(d, "advisor-note-permissions") ==
      s"sis-data/sis-sysadm/$daily/advisors/advisor-note-permissions/advisor-note-permissions.gz")
    assert(Sinks.dailyKey(d, "basic-attributes") ==
      s"sis-data/$daily/basic-attributes/basic-attributes.gz")
    assert(Sinks.termKey(d, "instructor_updates", "instructor-updates", "202608") ==
      s"sis-data/$daily/instructor_updates/instructor-updates-202608.gz")
  }

  test("snapshot enrollments-{term}.gz carries the full 13-col projection") {
    val base = tempDir("golden_wide").toString
    val term = graft.jobs.Jobs.currentTermIds(spark, sf).head
    val df = graft.jobs.Jobs.termEnrollments(spark, sf, term)
    // the reference's column order, queries.py:294-307
    assert(df.columns.toSeq == Seq("section_id", "term_id", "session_id",
      "ldap_uid", "sis_id", "enrollment_status", "waitlist_position",
      "units", "grade", "grade_points", "grading_basis", "grade_midterm",
      "institution"))
    // through the snapshot job into two targets: same key, same bytes
    val res = graft.jobs.Jobs.run("upload_snapshot", spark, sf,
      Seq(s"$base/t1", s"$base/t2"), "2024-01-01")
    assert(res.forall(_._3), s"all uploads succeed: $res")
    val key = Sinks.termKey("2024-01-01", "enrollments", "enrollments", term)
    val (a, b) = (partBytes(s"$base/t1/$key"), partBytes(s"$base/t2/$key"))
    assert(a.nonEmpty && java.util.Arrays.equals(a, b))
    val back = spark.read.option("header", "false").csv(s"$base/t1/$key")
    assert(back.columns.length == 13)
    assert(back.count() == df.count() && df.count() > 0)
  }

  test("term-parameterized extract is byte-identical across runs") {
    val base = tempDir("golden_term")
    val term = graft.jobs.Jobs.currentTermIds(spark, sf).head
    Sinks.gzipCsv(graft.jobs.Jobs.termEnrollments(spark, sf, term),
      base.resolve("a.csv.gz"))
    Sinks.gzipCsv(graft.jobs.Jobs.termEnrollments(spark, sf, term),
      base.resolve("b.csv.gz"))
    val (a, b) = (Files.readAllBytes(base.resolve("a.csv.gz")),
      Files.readAllBytes(base.resolve("b.csv.gz")))
    assert(a.nonEmpty && java.util.Arrays.equals(a, b))
  }
}
