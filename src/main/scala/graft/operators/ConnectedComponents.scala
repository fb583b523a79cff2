package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by min-label propagation with pointer doubling —
  * the cluster-resolution step that turns near-dup candidate PAIRS into
  * duplicate GROUPS (keep one representative per component).
  *
  * Each node converges to the minimum doc id reachable from it, a
  * unique fixpoint independent of iteration order — deterministic and
  * replayable by a recursive-CTE oracle.
  *
  * Scale shape: plain min-label propagation needs O(diameter) rounds —
  * a long chain of ids ordered against the propagation direction pays
  * one round per hop. Each round here therefore folds TWO label sources
  * into the min-aggregation:
  *
  *   - neighbor labels (edge ⋈ label join) — moves a label 1 hop, and
  *   - the label's own label (label ⋈ label self-join on label = id,
  *     "pointer doubling") — jumps a label chain of length 2^k to
  *     2^(k+1) in one round.
  *
  * The doubling term makes the round count O(log diameter): on a
  * worst-case path the labelled prefix doubles every round instead of
  * growing by one. Both joins are plan-level invariants: labels are
  * always ids of reachable nodes (min over reachable ids, init = self),
  * so the self-join key always resolves and the fixpoint — labels
  * constant per component, equal to the component min — is unchanged
  * from the propagation-only variant, which is what the DuckDB
  * recursive-CTE oracle replays.
  *
  * This is the legitimate use of driver-side iteration: coordination
  * only, all data movement stays distributed. Each round's labels are
  * materialized via [[CacheScope.materialize]] — persist alone is NOT
  * enough: the logical plan would still nest copies of the previous
  * round's plan (and pointer doubling would square it), growing until
  * analysis itself OOMs; the checkpoint truncates lineage to the
  * materialized result. Default is `localCheckpoint()` (fast,
  * executor-memory); set `graft.checkpoint.dir` for reliable
  * `checkpoint()` to a DFS dir so an executor loss mid-loop does not
  * kill the job at cluster scale. The previous round's checkpointed
  * blocks are unpersisted as soon as the next round is materialized,
  * so executor storage holds at most two rounds of labels regardless
  * of iteration count.
  */
object ConnectedComponents {

  private def releaseCheckpoint(df: DataFrame): Unit =
    CacheScope.releaseCheckpoint(df)

  /** (id, cluster) for every node in `edges`, cluster = min reachable
    * id. `edges` is undirected input given as (aCol, bCol) pairs.
    *
    * Runtime adaptivity (the AQE stance applied to iteration): the
    * edge lineage is materialized once anyway, so its exact count is
    * one cheap block scan — when it is at most `driverEdgeLimit`
    * (default 1M pairs ≈ 16 MB) and the ids are longs, the component
    * resolution runs as a driver-side union-find (min-id roots, path
    * compression) instead of paying O(log diameter) distributed
    * rounds of fixed scheduling cost on a graph that fits in one
    * task. Same unique fixpoint — labels = min reachable id — and
    * the spec certifies both paths against each other on every case;
    * pass `driverEdgeLimit = 0` to force the distributed loop. The
    * candidate graphs near-dup pipelines feed here are SPARSE by
    * construction (LSH emits Σ bucket² pairs, tuned small), so at
    * 100 TB this path still fires for healthy corpora, and the
    * distributed loop is the unbounded-size fallback, not the common
    * case.
    *
    * Throws [[IllegalStateException]] if the distributed fixpoint is
    * not reached within `maxIters` rounds — returning silently
    * non-converged labels would be a wrong answer with no signal. */
  def minLabel(edges: DataFrame, aCol: String, bCol: String,
               maxIters: Int = 50,
               driverEdgeLimit: Long = 1L << 20): DataFrame = {
    require(maxIters > 0,
      s"ConnectedComponents.minLabel: maxIters must be positive, got $maxIters")
    // Materialize the caller's edge lineage ONCE before mirroring it:
    // a plain union of two selects over `edges` would evaluate the
    // (possibly expensive — e.g. LSH candidate generation) upstream
    // plan once per branch. The eager checkpoint pays it a single time
    // and both union branches read the materialized blocks.
    // NULL endpoints are not nodes — normalize BEFORE either path so
    // both agree: an edge with one NULL endpoint contributes its
    // non-null endpoint as a self-edge (the node IS mentioned, so the
    // contract owes it an output row), a fully-NULL row contributes
    // nothing. Previously the distributed loop's groupBy kept the
    // null-src group and emitted a phantom (id = NULL, cluster) row
    // the driver union-find could never produce — a path-dependent
    // output the r11 "null joins match nothing" note missed (r20
    // review). With nulls gone the driver path no longer needs a
    // null fall-through either.
    val fwd = edges
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .filter(col("src").isNotNull || col("dst").isNotNull)
      .select(coalesce(col("src"), col("dst")).as("src"),
        coalesce(col("dst"), col("src")).as("dst"))
      .transform(CacheScope.materialize)
    val longIds = fwd.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (longIds && driverEdgeLimit > 0) {
      // the WHOLE driver path — size probe, collect, union-find, and
      // the result build — releases the materialized edges on any
      // failure, not only after a successful return (r20 review: the
      // distributed loop's finally had this discipline; the driver
      // path ran before the try, and driver-memory pressure near the
      // edge limit can throw in any of these steps)
      var fastOk = false
      try {
        if (fwd.count() <= driverEdgeLimit) {
          val rs = fwd.collect()
          val labels =
            unionFind(rs.map(r => (r.getLong(0), r.getLong(1))))
          val spark = edges.sparkSession
          import spark.implicits._
          val out = labels.toSeq.sortBy(_._1).toDF("id", "cluster")
          releaseCheckpoint(fwd)
          fastOk = true
          return out
        }
        fastOk = true // fell through to the distributed loop: fwd
                      // stays pinned for it, released in ITS finally
      } finally {
        if (!fastOk) releaseCheckpoint(fwd)
      }
    }
    // No distinct() on the mirrored edge set: the per-round min-
    // aggregation absorbs duplicate edges for free, and a distinct here
    // would cost a full-edge shuffle every bit as large as a round.
    val bidir = fwd
      .union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .persist()
    // Every exit below — success, maxIters throw, or a Spark failure
    // mid-round — must release what it pinned: in a long-lived
    // session (the scenario CacheScope exists for) an exception path
    // that skips the releases leaks bidir + fwd + the current round's
    // checkpointed blocks in executor storage forever. The finally
    // releases bidir/fwd on every path, and the current round's
    // labels on the NON-returning paths only (the returned plan reads
    // its blocks; unpersist is idempotent, so a prev already released
    // by the loop is safe to touch again).
    var prev: DataFrame = null
    var returned = false
    try {
      // Label init folds the FIRST propagation round in: every node
      // starts at min(own id, min neighbor id) — one shuffle, the same
      // shuffle a distinct-ids init would have paid, but one full round
      // of joins ahead. (bidir has every node as a src, so no node is
      // lost to the groupBy.)
      var labels = bidir
        .groupBy("src")
        .agg(least(col("src"), min(col("dst"))).as("label"))
        .select(col("src").as("id"), col("label"))
        .transform(CacheScope.materialize)
      prev = labels
      var iter = 0
      var converged = false
      while (!converged && iter < maxIters) {
      // Three label sources flow into one min-aggregation: neighbor
      // labels (1-hop propagation), the label's own label (pointer
      // doubling), and the node's own (id, label) row. The is_self row
      // (exactly one per id — labels' ids are bidir's distinct srcs)
      // resurfaces the previous label so `changed` needs no extra join.
        val fromNeighbors = bidir
          .join(labels, bidir("dst") === labels("id"))
          .select(bidir("src").as("id"), col("label"),
            lit(false).as("is_self"))
        val lbl = labels.select(col("id").as("l_id"), col("label").as("l_label"))
        val fromPointer = labels
          .join(lbl, labels("label") === col("l_id"))
          .select(labels("id"), col("l_label").as("label"),
            lit(false).as("is_self"))
        val next = fromNeighbors
          .union(fromPointer)
          .union(labels.select(col("id"), col("label"),
            lit(true).as("is_self")))
          .groupBy("id")
          .agg(min("label").as("label"),
            max(when(col("is_self"), col("label"))).as("__old"))
          .withColumn("__changed", col("label") < col("__old"))
          .transform(CacheScope.materialize)
        // Scans the blocks just materialized by localCheckpoint — cheap.
        converged = next.filter(col("__changed")).isEmpty
        // Previous round's checkpointed blocks are no longer reachable
        // from any live plan — release them (ADVICE r4). The final
        // round's blocks stay: the returned plan reads them.
        releaseCheckpoint(prev)
        prev = next
        labels = next.select("id", "label")
        iter += 1
      }
      if (!converged) throw new IllegalStateException(
        s"ConnectedComponents.minLabel: no fixpoint after $maxIters rounds" +
          " — labels would be silently wrong; raise maxIters")
      returned = true
      labels.select(col("id"), col("label").as("cluster"))
    } finally {
      bidir.unpersist()
      releaseCheckpoint(fwd)
      if (!returned && prev != null) releaseCheckpoint(prev)
    }
  }

  /** Driver-side union-find with min-id roots and path compression:
    * the smaller root always becomes the parent, so every find
    * terminates at the component's minimum id — the identical
    * fixpoint the distributed loop converges to. */
  private def unionFind(edges: Array[(Long, Long)])
      : collection.Map[Long, Long] = {
    val parent = collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      // path compression
      var c = x
      while (parent.getOrElse(c, c) != r) {
        val next = parent(c); parent(c) = r; c = next
      }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    val out = collection.mutable.LongMap.empty[Long]
    parent.keys.foreach(id => out(id) = find(id))
    out
  }
}
