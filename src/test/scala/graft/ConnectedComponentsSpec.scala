package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ConnectedComponents

/** Min-label propagation: known component structures, multi-round
  * convergence on a chain longer than one hop. */
class ConnectedComponentsSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  /** Every case certifies BOTH execution paths: the driver union-find
    * (fires by default on small edge sets) and the distributed
    * pointer-doubling loop (forced via driverEdgeLimit = 0) must
    * agree label-for-label before either answer is trusted. */
  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val df = edges.toDF("a", "b")
    val fast = ConnectedComponents.minLabel(df, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = ConnectedComponents
      .minLabel(df, "a", "b", driverEdgeLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == dist,
      s"driver union-find $fast != distributed fixpoint $dist")
    fast
  }

  test("two components resolve to their minimum ids") {
    val got = cc(Seq((1L, 2L), (2L, 3L), (5L, 6L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("a long chain converges across multiple rounds") {
    // 0-1-2-...-9: min label must travel the whole diameter
    val got = cc((0L until 9L).map(i => (i, i + 1)))
    assert(got == (0L to 9L).map(_ -> 0L).toMap)
  }

  test("pointer doubling handles a worst-case path within O(log d) rounds") {
    // 64-node path with ids ordered against the propagation direction:
    // plain 1-hop min-label needs 63 rounds — over the default
    // maxIters=50, so this converges (in ~7 rounds) ONLY because the
    // label-of-label doubling term jumps chains geometrically.
    val got = cc((0L until 63L).map(i => (i, i + 1)))
    assert(got == (0L to 63L).map(_ -> 0L).toMap)
  }

  test("a cycle plus a bridge forms one component") {
    val got = cc(Seq((4L, 5L), (5L, 6L), (6L, 4L), (6L, 9L)))
    assert(got.values.toSet == Set(4L))
    assert(got.keySet == Set(4L, 5L, 6L, 9L))
  }

  test("NULL endpoints are not nodes: half-null edges keep their " +
      "non-null endpoint, fully-null rows vanish, and both paths " +
      "agree — no phantom (id=NULL) row (r20 review)") {
    // previously the distributed loop's groupBy kept the null-src
    // group and emitted (NULL, cluster), which the driver union-find
    // could never produce — a path-dependent output
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (3L, null), (null, 7L), (null, null))
      .toDF("a", "b")
    def labels(limit: Long) = ConnectedComponents
      .minLabel(df, "a", "b", driverEdgeLimit = limit)
      .collect().map { r =>
        assert(!r.isNullAt(0) && !r.isNullAt(1),
          s"phantom null row in output: $r")
        r.getLong(0) -> r.getLong(1)
      }.toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 7L -> 7L)
    assert(labels(1L << 20) == want, "driver path")
    assert(labels(0L) == want, "distributed path")
  }

  test("random graphs: both paths match a BFS ground truth") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 3) {
      val edges = Seq.fill(120)(
        (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter { case (a, b) => a != b }
      val got = cc(edges) // asserts driver == distributed internally
      // ground truth: min reachable id by BFS over the undirected graph
      val adj = (edges ++ edges.map(_.swap))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      got.foreach { case (id, cluster) =>
        var seen = Set(id)
        var frontier = Set(id)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(n =>
            adj.getOrElse(n, Set.empty)) -- seen
          seen ++= frontier
        }
        assert(cluster == seen.min,
          s"node $id: cluster $cluster != min reachable ${seen.min}")
      }
    }
  }

  test("reliable checkpoint knob reaches the same fixpoint") {
    // graft.checkpoint.dir switches every iterative materialization
    // from executor-memory localCheckpoint() to reliable checkpoint()
    // — the fault-tolerant path a real cluster needs. Same fixpoint,
    // and checkpoint files actually land in the configured dir.
    val dir = tempDir("graft-ckpt")
      .toString
    spark.conf.set("graft.checkpoint.dir", dir)
    try {
      val got = cc(Seq((1L, 2L), (2L, 3L), (5L, 6L)))
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, s"expected checkpoint files under $dir")
    } finally {
      spark.conf.unset("graft.checkpoint.dir")
    }
  }

  test("non-convergence within maxIters fails loudly, never silently") {
    // A 10-node chain needs ~9 propagation rounds; maxIters=2 cannot
    // reach the fixpoint and must throw, not return partial labels.
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("a", "b")
    val ex = intercept[IllegalStateException] {
      ConnectedComponents
        .minLabel(edges, "a", "b", maxIters = 2, driverEdgeLimit = 0L)
        .collect()
    }
    assert(ex.getMessage.contains("no fixpoint"))
  }
}
