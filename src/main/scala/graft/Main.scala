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
    * others still land, and then the first failure is rethrown with
    * the later ones suppressed — so no `[graft] … ok` line is printed
    * for that run and the process exits non-zero ([[jobs.Jobs.run]]). */
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
    try {
      val results = run(spark, job, sfDir, targets, date)
      results.foreach { case (q, t, ok) =>
        println(s"[graft] $q -> $t: ${if (ok) "ok" else "FAILED"}")
      }
      // per-bucket failure is isolated+logged, not fatal
      // (reference: jonesy/jobs.py:128-131)
    } finally spark.stop()
  }
}
