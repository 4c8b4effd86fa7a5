package graft

/** GraphOps.connectedComponents on hand-built graphs: chains, cycles,
  * singletons, and convergence past one propagation round.
  */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  private def cc(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] =
    graft.functions.GraphOps.connectedComponents(
      nodes.toDF("id"), edges.toDF("a", "b"), "id", "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain, cycle, singleton resolve to component minima") {
    val got = cc(
      nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 99L),
      // chain 1-2-3-4 (diameter 3 ⇒ needs >1 round), cycle 10-11-12-10
      edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (12L, 10L)))
    assert(got === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      99L -> 99L))
  }

  test("long path converges (min label must travel the whole diameter)") {
    val n = 17L
    val got = cc((0L until n).toSeq, (0L until n - 1).map(i => (i, i + 1)))
    assert(got.values.toSet === Set(0L))
  }

  test("edge direction does not matter") {
    assert(cc(Seq(5L, 6L), Seq((6L, 5L))) === Map(5L -> 5L, 6L -> 5L))
  }

  // r18: the collected union-find route (small route) and the
  // distributed min-label loop must agree bit-for-bit — the size
  // oracle's limit at 0 forces the join loop, the default routes these
  // sizes to the driver.
  test("collected union-find equals the distributed min-label loop") {
    val nodes = Seq(1L, 2L, 3L, 4L, 7L, 10L, 11L, 12L, 99L)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 7L),
      (10L, 11L), (11L, 12L), (12L, 10L), (42L, 1L) /* dangling src */)
    val small = cc(nodes, edges)
    withConf("graft.route.smallRows", "0") {
      val dist = cc(nodes, edges)
      assert(small === dist)
    }
  }

  // The loop route stopped by maxIters with labels still changing would
  // return labels the union-find route never gives, so it must throw.
  test("the min-label loop throws when maxIters stops it short of the fixpoint") {
    val n = 6L
    withConf("graft.route.smallRows", "0") {
      val e = intercept[IllegalStateException] {
        graft.functions.GraphOps.connectedComponents(
          (0L until n).toDF("id"), (0L until n - 1).map(i => (i, i + 1)).toDF("a", "b"),
          "id", "a", "b", maxIters = 1)
      }
      assert(e.getMessage.contains("maxIters=1"))
    }
  }
}
