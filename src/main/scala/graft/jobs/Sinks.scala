package graft.jobs

import java.io.OutputStreamWriter
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.functions.Fns

/** Sink layer — SURVEY.md §2.1 S4/S5/S7 and the serialization contract F13.
  *
  * The reference streams cursor rows through a CSV writer into one gzip
  * file on the driver host and uploads those bytes to every target bucket
  * (jonesy/jobs.py:100-148). Here the same design: timestamps serialized
  * per F13, each row rendered as headerless CSV on the executors, the
  * rows streamed in order into one local gzip file on the driver, and
  * that file copied to every target with per-target error isolation.
  * Each key is a directory holding exactly one file, `part-00000.csv.gz`.
  * A per-term extract family is one frame for all current terms
  * ([[fanOutRouted]]): a route column sends each row to its term's file,
  * and every term's file is then copied the same way.
  *
  * Scale note: one file per key keeps byte-parity with the reference's
  * one object per query and its ordered output (SURVEY.md §2.11), so one
  * task reads the whole frame (`coalesce(1)`), and that single
  * partition reaches the driver as one task result: a frame is bounded
  * by `spark.driver.maxResultSize`. For a routed frame that is every
  * current term of one family at once, at most 3 terms
  * (`ref_current_terms` is LIMIT 3).
  *
  * Failure note: a routed frame whose build or serialization fails
  * fails every one of its keys on every target, so one family's terms
  * fail together; a failed copy still fails only its (key, target).
  */
object Sinks {

  /** F13 — serialize every timestamp column for CSV output: the
    * designated watermark column (`last_updated` in the reference) gets
    * the America/Los_Angeles reinterpretation with offset; every other
    * timestamp gets the generic '... UTC' format
    * (reference: jonesy/jobs.py:166-173). */
  def serializeTimestamps(df: DataFrame,
                          laColumns: Set[String] = Set("last_updated"))
      : DataFrame = {
    // the contract's UTC instants rest on the session TZ: the NTZ→
    // TIMESTAMP cast below reinterprets wall times in the SESSION
    // zone, and date_format on TimestampType renders in it too. Every
    // graft entry point pins spark.sql.session.timeZone=UTC, but a
    // library caller with a different session TZ would get silently
    // shifted instants — fail loudly instead, only when the frame
    // actually carries a timestamp column (a TZ-free extract has
    // nothing to shift)
    val hasTs = df.schema.fields.exists(f =>
      f.dataType == TimestampType ||
        f.dataType == org.apache.spark.sql.types.TimestampNTZType)
    // zone-RULES equivalence, not string equality: Etc/UTC, GMT,
    // +00:00 all render identical instants and must not throw; an
    // unparseable id reads as not-UTC (fails loudly, never shifts)
    def isUtc(tz: String): Boolean =
      scala.util.Try(java.time.ZoneId.of(tz).normalized()
        .getRules.isFixedOffset &&
        java.time.ZoneId.of(tz).normalized().getRules
          .getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0)
        .getOrElse(false)
    require(!hasTs ||
        isUtc(df.sparkSession.conf.get("spark.sql.session.timeZone")),
      "timestamp serialization requires spark.sql.session.timeZone=UTC " +
        "(the CSV contract's instants are UTC; a different session TZ " +
        "would silently shift them)")
    // one select, not a withColumn per column: each withColumn call
    // re-analyzes the whole plan (Spark's own scaladoc warns against
    // looping it) — quadratic analyzer work on wide extracts
    df.select(df.schema.fields.map { f =>
      val c: Column =
        // NTZ included: the lake round-trip (Tables.readLake) and
        // micros/isAdjustedToUTC=false parquet scan as TIMESTAMP_NTZ,
        // and an unserialized NTZ column would land in the CSV in
        // Spark's default format without the contract's ' UTC'
        // suffix. Session TZ is pinned UTC, so NTZ wall times ARE the
        // contract's UTC instants.
        if (f.dataType != TimestampType &&
            f.dataType != org.apache.spark.sql.types.TimestampNTZType)
          col(f.name)
        else {
          // NTZ → TIMESTAMP first (session TZ pinned UTC, so the wall
          // time IS the contract's UTC instant): laReinterpretFormat
          // computes its offset via cast("long"), which Spark REJECTS
          // on TIMESTAMP_NTZ at analysis time — without this cast the
          // exact NTZ inputs this function exists to absorb would
          // kill the sink with a DATATYPE_MISMATCH AnalysisException
          val tc =
            if (f.dataType == TimestampType) col(f.name)
            else col(f.name).cast(TimestampType)
          if (laColumns(f.name)) Fns.laReinterpretFormat(tc)
          else Fns.tsUtcFormat(tc)
        }
      c.as(f.name)
    }.toIndexedSeq: _*)
  }

  /** S4 — headerless gzip CSV into one local file (reference:
    * jonesy/jobs.py:100-114,175: csv.writer into GzipFile,
    * lineterminator='\n', UTF-8). The executors render each row with
    * `to_csv`, the generator Spark's CSV writer uses, so the text is the
    * CSV data source's byte for byte; the driver streams the one ordered
    * partition into a `GZIPOutputStream`. The one-key case of
    * [[gzipCsvRouted]]. */
  def gzipCsv(df: DataFrame, file: Path): Unit =
    gzipCsvRouted(df.withColumn(OneKey, lit("")), OneKey, Map("" -> file))

  /** The route column of the one-key case: every row routes to "". */
  private val OneKey = "__one_key"

  /** [[gzipCsv]] into one local file per route value: column `route`
    * (a string) names the file each row goes to and is not written.
    * Every file is created, so a route value without rows gets a valid
    * empty gzip; a row whose route value has no file fails the whole
    * serialization. Rows keep their order within each file. */
  private def gzipCsvRouted(df: DataFrame, route: String,
                            files: Map[String, Path]): Unit = {
    val ser = serializeTimestamps(df)
    // RFC 4180 quote doubling ("" inside a quoted field), matching the
    // reference's python csv.writer; Spark's default escape is
    // backslash, which an RFC consumer mis-parses at the first interior
    // quote
    val lines = ser
      .select(
        to_csv(struct(ser.columns.filter(_ != route).map(col).toIndexedSeq: _*),
          java.util.Map.of("escape", "\"")),
        col(route))
      .coalesce(1).as(Encoders.tuple(Encoders.STRING, Encoders.STRING))
      .toLocalIterator()
    val outs = mutable.Map.empty[String, OutputStreamWriter]
    try {
      for ((r, f) <- files) outs(r) = new OutputStreamWriter(
        new GZIPOutputStream(Files.newOutputStream(f), 1 << 16), UTF_8)
      lines.forEachRemaining { case (l, r) =>
        val out = outs.getOrElse(r, throw new IllegalStateException(
          s"a row routes to '$r', which has no key"))
        out.write(l)
        out.write('\n')
      }
    } finally outs.values.foreach(_.close())
  }

  /** The one file each delivered key holds. */
  private val PartName = "part-00000.csv.gz"

  /** Converge a prior crashed extract swap: restore the moved-aside
    * extract if the serving key is unbound; drop a stale `__old`
    * (crash after rename-in) otherwise. */
  private def convergeExtractSwap(fs: FileSystem, dst: HPath,
                                  old: HPath): Unit =
    if (fs.exists(old)) {
      if (!fs.exists(dst)) fs.rename(old, dst)
      else fs.delete(old, true)
    }

  /** Rename-ASIDE swap of a delivered `__incoming` key into the
    * serving key — dst → __old, tmp → dst, drop __old (the
    * replaceBucketed ordering; ADVICE r16 closed the
    * delete-then-rename window): the prior extract exists under SOME
    * name at every instant, a false rename-in restores it, and the
    * one unbound-name window self-heals via
    * [[convergeExtractSwap]] at the next delivery. Throws on any
    * non-serving outcome so the caller's log-and-False contract sees
    * one failure seam. */
  private def swapExtractIn(fs: FileSystem, dst: HPath, tmp: HPath,
                            old: HPath): Boolean = {
    val hadDst = fs.exists(dst)
    if (hadDst && !fs.rename(dst, old))
      throw new java.io.IOException(
        s"could not move aside $dst; prior extract intact")
    if (fs.rename(tmp, dst)) {
      if (hadDst) fs.delete(old, true)
      true
    } else {
      // restore the prior extract before reporting failure
      if (hadDst) fs.rename(old, dst)
      throw new java.io.IOException(
        s"rename $tmp -> $dst returned false; prior restored")
    }
  }

  /** Copy one serialized local file to `<t>/<key>`: first to
    * `<t>/<key>__incoming/part-00000.csv.gz`, then swapped in. */
  private def deliver(local: Path, t: String, key: String,
                      conf: Configuration): Boolean = {
    val dst = new HPath(s"$t/$key")
    val tmp = new HPath(s"$t/${key}__incoming")
    val old = new HPath(s"$t/${key}__old")
    // the local filesystem checksums by default: its raw form writes
    // no `.crc` beside the part, so the key holds one file
    val fs = dst.getFileSystem(conf) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }
    convergeExtractSwap(fs, dst, old)
    fs.delete(tmp, true) // a crashed delivery's leftovers
    val out = fs.create(new HPath(tmp, PartName), false)
    try Files.copy(local, out) finally out.close()
    swapExtractIn(fs, dst, tmp, old)
  }

  /** S5 — multi-target fan-out with per-target error isolation
    * (reference: jonesy/jobs.py:116-132: the query is serialized ONCE
    * into a gzip file, then the SAME bytes upload to each bucket in
    * TARGETS; a failing bucket logs and yields False without raising).
    * Returns per-target success flags in input order. The one-key case
    * of [[fanOutRouted]]. */
  def fanOut(df: DataFrame, targets: Seq[String],
             key: String): Seq[(String, Boolean)] =
    fanOutRouted(df.withColumn(OneKey, lit("")), targets, OneKey,
      Seq("" -> key)).map { case (_, t, ok) => (t, ok) }

  /** S5/S8 — [[fanOut]] of one frame to several keys: the string column
    * `route` names each row's key through `keys` (route value → key)
    * and is not written. Returns (route value, target, ok) rows, key by
    * key in `keys` order, targets in input order.
    *
    * One path for any number of keys and targets: [[gzipCsvRouted]]
    * runs the plan once into one temp file per key on the driver's own
    * disk, so the copies work on any master, and the files are deleted
    * when the last copy is done. Every key gets a file, so a route
    * value without rows lands a valid empty gzip. A failed
    * serialization fails every key on every target; a failed copy
    * fails only its (key, target). Each target gets a key's file at
    * `<t>/<key>__incoming/part-00000.csv.gz` first and swaps it in only
    * after the bytes landed, so the prior extract keeps serving through
    * a failed delivery (the reference's atomic S3 put), and re-delivery
    * replaces the whole key idempotently (T6). Concurrent deliveries of
    * the SAME key are not supported: the `__incoming`/`__old` names are
    * shared, so each key has one writer, as the cron deployment this
    * sink serves delivers each key once per run. */
  def fanOutRouted(df: DataFrame, targets: Seq[String], route: String,
                   keys: Seq[(String, String)])
      : Seq[(String, String, Boolean)] = {
    require(targets.nonEmpty, "no targets configured") // jobs.py:119-122
    require(keys.map(_._1).distinct.size == keys.size,
      s"route values repeat: ${keys.map(_._1)}")
    def logFail(what: String, e: Exception): Boolean = {
      System.err.println(s"[sink] $what failed: ${e.getMessage}")
      false
    }
    val locals = mutable.ArrayBuffer.empty[Path]
    try {
      for (_ <- keys)
        locals += Files.createTempFile("graft-fanout", ".csv.gz")
      val serialized =
        try {
          gzipCsvRouted(df, route, keys.map(_._1).zip(locals).toMap)
          true
        } catch { case e: Exception => logFail("serialization", e) }
      val conf = df.sparkSession.sparkContext.hadoopConfiguration
      for (((r, key), local) <- keys.zip(locals); t <- targets)
        yield (r, t, serialized && (
          try deliver(local, t, key, conf)
          catch { case e: Exception => logFail(s"target $t, key $key", e) }))
    } finally locals.foreach(Files.deleteIfExists)
  }

  /** S7 — full key for a flat (term-independent) extract:
    * `sis-data/{daily}/{extract}/{extract}.gz`
    * (reference: jonesy/jobs.py:52-54,145-148 — the snapshot's
    * basic-attributes key, root prefix and all). */
  def dailyKey(isoDate: String, extract: String): String =
    s"sis-data/${Fns.dailyPath(isoDate)}/$extract/$extract.gz"

  /** S7 — full key for an advisors-job extract:
    * `sis-data/sis-sysadm/{daily}/advisors/{extract}/{extract}.gz`
    * (reference: jonesy/jobs.py:30-38 — the advisors uploads live under
    * a `sis-sysadm` root and an `advisors` group directory). */
  def advisorsKey(isoDate: String, extract: String): String =
    s"sis-data/sis-sysadm/${Fns.dailyPath(isoDate)}/advisors/$extract/$extract.gz"

  /** S7/S8 — full per-term key under the daily prefix:
    * `sis-data/{daily}/{dir}/{file}-{termId}.gz`. Directory and file
    * base are SEPARATE because the reference spells them differently
    * for the refresh groups — underscore directories, dash file names
    * (`instructor_updates/instructor-updates-{term}.gz`,
    * jonesy/jobs.py:44,48) — while the snapshot groups use the same
    * word for both (`courses/courses-{term}.gz`, jobs.py:58,62). */
  def termKey(isoDate: String, dir: String, file: String,
              termId: String): String =
    s"sis-data/${Fns.dailyPath(isoDate)}/$dir/$file-$termId.gz"
}
