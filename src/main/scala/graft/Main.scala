package graft

import org.apache.spark.sql.SparkSession

/** The engine's production entrypoint — the reference's CLI contract
  * (jonesy.py:13-16): `JOB` selects the pipeline, `TARGETS` is the
  * comma-separated sink list, layered config supplies everything else
  * (`.env.shared` < `.env.secret` < process env — [[Config]],
  * reference jonesy.py:7-11). A user of the reference runs
  * `spark-submit --class graft.Main` with the same environment instead
  * of `python jonesy.py`.
  *
  * Config keys: JOB (required), TARGETS (required, comma-separated),
  * GRAFT_SF_DIR (data root), GRAFT_DATE (ISO date for the daily path;
  * defaults to today UTC). GRAFT_ENV_DIR (process env only) points at
  * the directory holding the dotenv files, default `.`.
  */
object Main {

  /** Testable core: dispatch one job and return per-upload outcomes,
    * in the job's declaration order.
    *
    * The job's extracts run concurrently on a pool of at most
    * `sparkContext.defaultParallelism` threads; its pre-step (index
    * maintenance) runs first and alone. When an extract throws, the
    * others still land, and then a [[jobs.Jobs.StepsFailed]] carrying
    * their rows is thrown, caused by the first failure with the later
    * ones suppressed ([[jobs.Jobs.run]]). `main` prints the landed
    * rows' `[graft] …` lines and then exits non-zero. */
  def run(spark: SparkSession, job: String, sfDir: String,
          targets: Seq[String], isoDate: String)
      : Seq[(String, String, Boolean)] =
    jobs.Jobs.run(job, spark, sfDir, targets, isoDate)

  def main(args: Array[String]): Unit = {
    // Missing required config aborts the PROCESS with a non-zero exit
    // — the reference exit()s from inside the upload path
    // (jonesy/jobs.py:119-122) and its cron wrapper relies on that; a
    // silent zero-exit return would report success to the scheduler.
    val config = Config.load(sys.env.getOrElse("GRAFT_ENV_DIR", "."))
    val job = config.getOrElse("JOB",
      { System.err.println("JOB is required (env or .env files)")
        sys.exit(2) })
    val targets = config.get("TARGETS").map(_.split(",").toSeq)
      .getOrElse {
        System.err.println("TARGETS is required (env or .env files)")
        sys.exit(2)
      }
    val sfDir = config.getOrElse("GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val date = config.getOrElse("GRAFT_DATE",
      java.time.LocalDate.now(java.time.ZoneOffset.UTC).toString)
    val spark = SparkSession.builder()
      .appName(s"graft-$job")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    def report(rows: Seq[(String, String, Boolean)]): Unit =
      rows.foreach { case (q, t, ok) =>
        println(s"[graft] $q -> $t: ${if (ok) "ok" else "FAILED"}")
      }
    try {
      // per-bucket failure is isolated+logged, not fatal
      // (reference: jonesy/jobs.py:128-131); a step that throws is
      // fatal, after the extracts that did land are reported
      try report(run(spark, job, sfDir, targets, date))
      catch {
        case e: jobs.Jobs.StepsFailed[(String, String, Boolean)] @unchecked =>
          report(e.landed)
          throw e
      }
    } finally spark.stop()
  }
}
