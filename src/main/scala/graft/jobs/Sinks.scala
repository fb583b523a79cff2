package graft.jobs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.functions.Fns

/** Sink layer — SURVEY.md §2.1 S4/S5/S7 and the serialization contract F13.
  *
  * The reference streams cursor rows through a CSV writer into gzip and
  * uploads the bytes to every target bucket (jonesy/jobs.py:100-148). Here
  * the same contract is a declarative write: headerless gzip CSV, one
  * logical file per query (`coalesce(1)` preserves the ordered-output
  * contract, SURVEY.md §2.11), timestamps serialized per F13 before the
  * sink, fan-out as a loop over targets with per-target error isolation.
  *
  * Scale note: `coalesce(1)` exists for byte-parity with the reference's
  * one-file-per-query output, so the final write of each extract runs
  * as a single task.
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

  /** S4 — headerless gzip CSV (reference: jonesy/jobs.py:100-114,175:
    * csv.writer into GzipFile, lineterminator='\n', UTF-8). */
  def gzipCsv(df: DataFrame, path: String): Unit =
    serializeTimestamps(df).coalesce(1).write
      .mode("overwrite")
      .option("compression", "gzip")
      .option("header", "false")
      .option("lineSep", "\n")
      // RFC 4180 quote doubling ("" inside a quoted field), matching
      // the reference's python csv.writer; Spark's default escape is
      // backslash, which an RFC consumer mis-parses at the first
      // interior quote
      .option("escape", "\"")
      .csv(path)

  import org.apache.hadoop.fs.{FileSystem => HFileSystem, Path => HPath}

  /** Converge a prior crashed extract swap: restore the moved-aside
    * extract if the serving key is unbound; drop a stale `__old`
    * (crash after rename-in) otherwise. */
  private def convergeExtractSwap(fs: HFileSystem, dst: HPath,
                                  old: HPath): Unit =
    if (fs.exists(old)) {
      if (!fs.exists(dst)) fs.rename(old, dst)
      else fs.delete(old, true)
    }

  /** Rename-ASIDE swap of a committed `__incoming` key into the
    * serving key — dst → __old, tmp → dst, drop __old (the
    * replaceBucketed ordering; ADVICE r16 closed the
    * delete-then-rename window): the prior extract exists under SOME
    * name at every instant, a false rename-in restores it, and the
    * one unbound-name window self-heals via
    * [[convergeExtractSwap]] at the next delivery. Throws on any
    * non-serving outcome so the caller's log-and-False contract sees
    * one failure seam. */
  private def swapExtractIn(fs: HFileSystem, dst: HPath, tmp: HPath,
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

  /** S5 — multi-target fan-out with per-target error isolation
    * (reference: jonesy/jobs.py:116-132: the query is serialized ONCE
    * into a gzip byte stream, then the SAME bytes upload to each bucket
    * in TARGETS; a failing bucket logs and yields False without
    * raising). Returns per-target success flags in input order.
    *
    * One plan execution regardless of target count: with multiple
    * targets the extract is written once to a staging path (the
    * reference's local gzip buffer; `staging` should be a DFS path at
    * cluster scale — the default driver-local temp dir matches the
    * reference's driver-side buffering and the coalesce(1) single-file
    * contract), then byte-copied to every target through the Hadoop
    * filesystem API. Re-executing a 100 TB lineage once per target —
    * r6's shape — was the S5 scale wart (VERDICT r6). A failed staging
    * write fails every target; a failed copy fails only its target.
    * Targets always receive identical bytes, and each delivery copies
    * into a sibling `__incoming` key first, swapping in only after
    * the bytes landed — the prior extract keeps serving through a
    * failed copy (the reference's atomic S3 put), and re-delivery
    * overwrites idempotently (T6). The single-target path takes the
    * SAME swap (writing straight to the `__incoming` sibling, no
    * staging hop), so a failed delivery never destroys the
    * previously-served extract on either path.
    *
    * The staging path must be visible to BOTH the executors (that
    * commit the write) and the driver (that copies the bytes out). A
    * driver-local temp dir only satisfies that under a local master, so
    * on any other master an explicit DFS `staging` path is required —
    * otherwise the part files would commit on executor disks and the
    * driver-side copy would silently ship an empty extract. As a second
    * line of defense the stage dir is checked for committed part files
    * before any copy starts. */
  def fanOut(df: DataFrame, targets: Seq[String], key: String,
             staging: Option[String] = None): Seq[(String, Boolean)] = {
    require(targets.nonEmpty, "no targets configured") // jobs.py:119-122
    def logFail(what: String, e: Exception): Boolean = {
      System.err.println(s"[sink] $what failed: ${e.getMessage}")
      false
    }
    if (targets.sizeIs == 1) {
      // single target: write STRAIGHT to the __incoming sibling (the
      // executors commit there — no staging hop needed), then the
      // same rename-aside swap as the multi-target path. The old
      // direct mode("overwrite") write deleted the serving key before
      // the job ran, so a mid-job failure destroyed the
      // previously-served extract — the exact delivery-contract
      // violation the staged swap exists to prevent.
      val t = targets.head
      val conf = df.sparkSession.sparkContext.hadoopConfiguration
      Seq(t -> (try {
        val dst = new HPath(s"$t/$key")
        val tmp = new HPath(s"$t/${key}__incoming")
        val old = new HPath(s"$t/${key}__old")
        val fs = dst.getFileSystem(conf)
        convergeExtractSwap(fs, dst, old)
        gzipCsv(df, tmp.toString) // overwrite clears a stale __incoming
        val hasParts = fs.exists(tmp) && fs.listStatus(tmp)
          .exists(st => st.isFile && st.getPath.getName.startsWith("part-"))
        if (!hasParts) throw new java.io.IOException(
          s"no part files committed in $tmp; prior extract intact")
        swapExtractIn(fs, dst, tmp, old)
      } catch { case e: Exception => logFail(s"target $t", e) }))
    } else {
      import org.apache.hadoop.fs.FileUtil
      val sc = df.sparkSession.sparkContext
      if (staging.isEmpty && !sc.isLocal) {
        // a config error, but the sink contract is log-and-False,
        // never raise (jobs.py:128-131): throwing here would abort
        // every REMAINING extract of the job run, which is worse than
        // the misconfigured one failing
        System.err.println("[sink] fanOut on a non-local master needs " +
          "an explicit DFS staging path: a driver-local temp dir is " +
          "not visible to executors -- all targets failed")
        return targets.map(_ -> false)
      }
      val conf = sc.hadoopConfiguration
      // the created-by-us parent (deleted in full afterwards) vs the
      // caller-owned staging root (only our stage subdir is deleted).
      // The stage dir is KEYED so two concurrent fanOuts of DIFFERENT
      // keys sharing one staging root cannot clobber each other's
      // staged bytes mid-copy, and DETERMINISTIC on purpose: a
      // crashed delivery's leftovers are overwritten by the next
      // run's gzipCsv instead of leaking one orphaned extract copy
      // per crash in the caller-owned root. Concurrent deliveries of
      // the SAME key are NOT supported — beyond the stage, the
      // per-target __incoming/__old swap keys are necessarily shared,
      // so same-key delivery is single-writer, exactly like every
      // serving-table swap (Partitioning.recoverSwap's contract); the
      // cron deployment this sink serves delivers each key once per
      // run.
      val tempParent = if (staging.isEmpty)
        Some(java.nio.file.Files.createTempDirectory("graft-fanout").toString)
      else None
      val stageName = "stage-" + java.security.MessageDigest
        .getInstance("MD5").digest(key.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(16)
      val stage = staging.orElse(tempParent).get + "/" + stageName
      val computed =
        try {
          gzipCsv(df, stage)
          // committed data files must be visible from the driver before
          // any target copy — catches a mis-pointed staging path early
          val sp = new HPath(stage)
          val fs = sp.getFileSystem(conf)
          val hasParts = fs.listStatus(sp)
            .exists(s => s.isFile && s.getPath.getName.startsWith("part-"))
          if (!hasParts)
            logFail("staging write",
              new java.io.IOException(s"no part files committed in $stage"))
          else true
        } catch { case e: Exception => logFail("staging write", e) }
      val out = targets.map { t =>
        t -> (computed &&
          (try {
            // copy into a sibling temp key FIRST, then swap in
            // ([[swapExtractIn]]): delete-then-copy would leave the
            // target EMPTY when the copy dies mid-stream — a
            // regression of the delivery contract.
            val src = new HPath(stage)
            val dst = new HPath(s"$t/$key")
            val tmp = new HPath(s"$t/${key}__incoming")
            val old = new HPath(s"$t/${key}__old")
            val dstFs = dst.getFileSystem(conf)
            convergeExtractSwap(dstFs, dst, old)
            if (dstFs.exists(tmp)) dstFs.delete(tmp, true)
            val copied = FileUtil.copy(src.getFileSystem(conf), src,
              dstFs, tmp, false, true, conf)
            // FileUtil.copy can report failure by RETURNING false
            // instead of throwing — without this line that mode ends
            // the run with target=false and zero stderr trace, unlike
            // every other failure path here (log-and-False contract)
            if (!copied) System.err.println(
              s"[sink] target $t failed: FileUtil.copy returned false")
            copied && swapExtractIn(dstFs, dst, tmp, old)
          } catch { case e: Exception => logFail(s"target $t", e) }))
      }
      try {
        val sp = new HPath(tempParent.getOrElse(stage))
        sp.getFileSystem(conf).delete(sp, true)
      } catch { case _: Exception => () }
      out
    }
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
