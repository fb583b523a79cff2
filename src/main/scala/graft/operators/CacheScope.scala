package graft.operators

import org.apache.spark.sql.DataFrame

/** Cache-lifetime discipline for queries that persist intermediates.
  *
  * A catalog query that caches a shared lineage (shingle tables, band
  * tables, bucketed corpora) must not leak those blocks to the session:
  * a bench harness's `clearCache()` hides the leak, a long-lived
  * pipeline accumulates it. [[eval]] materializes the final result
  * eagerly — one extra scan of result-sized data, cheap next to the
  * released lineage — and then frees every intermediate immediately, so
  * after a catalog query runs the session's cache manager is empty.
  *
  * `persist()` of a plan that ends in a shuffle keeps
  * `spark.sql.shuffle.partitions` partitions: AQE does not coalesce a
  * cached plan's output partitioning
  * (`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` is off
  * by default), so every stage that reads the cache runs that many
  * tasks, 200 under Spark's default. A job face that caches such a
  * plan uses [[materialize]] instead, which is planned by AQE like any
  * other action.
  */
object CacheScope {

  /** Release a localCheckpoint'ed DataFrame's storage blocks.
    * `Dataset.unpersist` only evicts cache-manager entries, and
    * localCheckpoint blocks live at the RDD layer behind the plan's
    * `LogicalRDD` leaves — unpersist those RDDs or the blocks linger
    * until GC-driven cleanup. COLLECTS the leaves rather than matching
    * only a bare root: callers routinely hand back a checkpoint
    * wrapped in a projection (`lshCandidates(...).select(...)`), and
    * the old root-only match silently no-op'd on exactly those,
    * leaking the candidate-pair blocks the call existed to free.
    * No-op for plans with no checkpoint leaf. */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Eagerly materialize a lineage, truncating its plan to the
    * materialized result. By default this is `localCheckpoint()` —
    * executor-memory blocks, fast, but NOT fault-tolerant: an executor
    * loss mid-iteration (the real-cluster failure mode `local[*]` never
    * shows) kills every plan reading the lost blocks. When the session
    * conf sets `graft.checkpoint.dir`, iterative/materialized lineages
    * switch to reliable `checkpoint()` into that directory (DFS at
    * cluster scale), which survives executor loss at the price of a
    * write+read through the filesystem. */
  def materialize(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption("graft.checkpoint.dir") match {
      case Some(dir) if dir.nonEmpty =>
        val sc = df.sparkSession.sparkContext
        // set-when-changed: SparkContext stores the dir FULLY
        // QUALIFIED with a fresh UUID subdirectory appended, so an
        // equality test against the raw conf value never matches and
        // every materialize call would re-set the dir — one orphan
        // UUID directory on the DFS per iteration of every loop that
        // runs through here. Remember the LAST raw value applied per
        // context instead: re-set only when the conf moved, which
        // also keeps an A→B→A conf change honest (a set-once pair-set
        // would short-circuit the third value and leave the effective
        // dir at B while the conf says A).
        lastCheckpointDir.synchronized {
          if (lastCheckpointDir.get(sc) != dir) {
            sc.setCheckpointDir(dir)
            lastCheckpointDir.put(sc, dir)
          }
        }
        df.checkpoint()
      case _ => df.localCheckpoint()
    }

  // last raw conf dir applied, per context — WEAK keys so a stopped
  // context's entry is collectable instead of pinned for the JVM's
  // lifetime (the context is the key's only strong referent here)
  private val lastCheckpointDir =
    new java.util.WeakHashMap[org.apache.spark.SparkContext, String]()

  /** Materialize `result` eagerly (via [[materialize]], so the
    * `graft.checkpoint.dir` knob applies here too) and release the
    * `intermediates` — persisted or localCheckpoint'ed — right away.
    * The returned DataFrame reads the materialized blocks; those are
    * result-scoped and reclaimed by the context cleaner once the caller
    * drops the reference. */
  def eval(result: DataFrame)(intermediates: DataFrame*): DataFrame = {
    val out = materialize(result)
    intermediates.foreach { d =>
      d.unpersist(blocking = false)
      releaseCheckpoint(d)
    }
    out
  }
}
