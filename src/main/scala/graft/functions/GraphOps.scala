package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed connected components by min-label propagation — the
  * equi-join form of large-star/small-star: each round every node takes
  * the least component id among itself and its neighbors, so one round
  * is one `edges ⋈ labels` join + per-node min, whatever the graph
  * size. Converges in O(diameter) rounds (component diameters in dedup
  * graphs are tiny — near-dup clusters are dense); the fixpoint is the
  * component MINIMUM, deterministic regardless of iteration count,
  * join order, or partitioning. Lineage is truncated per round
  * (`localCheckpoint`) so the iterated plan stays flat.
  */
object GraphOps {

  /** Conf key for the collected-iterate routing threshold (node count).
    * Mirrors label_propagation's `graft.labelprop.smallThreshold`: a
    * dedup subgraph that fits the driver comfortably (≤ threshold
    * nodes ⇒ ≤ 6·threshold undirected edge rows by the kNN/band-cap
    * construction of every caller) is resolved with one collect + a
    * union-find instead of O(diameter) join rounds, each of which costs
    * two driver-scheduled jobs however small the data is (measured r18:
    * incremental_cc_relabel spent its seconds on ~40 near-empty jobs).
    * At corpus scale the measured count routes to the distributed
    * min-label loop unchanged.
    */
  private val ThresholdKey = "graft.cc.smallThreshold"

  /** Component id (the least member id) per node. `nodes` is one LONG
    * `idCol` per vertex; `edges` holds undirected adjacency as
    * (`srcCol`, `dstCol`) pairs (one direction is enough — both are
    * added here). Output: (idCol, component).
    *
    * `maxIters` is a CONVERGENCE-SAFETY bound on the distributed loop
    * (component diameters in the in-repo dedup/kNN graphs are tiny, so
    * the fixpoint lands in a handful of rounds); the collected
    * union-find route always reaches the exact fixpoint and does not
    * read it. A graph that still has label changes at maxIters throws
    * `IllegalStateException`: its labels would not be the component
    * fixpoint and would disagree with the union-find route.
    *
    * Driver-route guards (r19): every in-repo caller bounds edges at
    * ≤ 6·|V| rows by the kNN/band-cap construction, but the primitive
    * no longer trusts that — the collect is capped at 6·threshold + 1
    * rows via limit(), and an over-cap edge set falls through to the
    * distributed loop instead of flooding the driver.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      idCol: String, srcCol: String, dstCol: String,
      maxIters: Int = 20): DataFrame = {
    val spark = nodes.sparkSession
    val threshold = spark.conf.get(ThresholdKey, "100000").toLong
    // Pin a DERIVED nodes plan before measuring (r19, VERDICT r18 #8):
    // the routing count EXECUTES the nodes plan, and whichever route
    // wins executes it again (collect, or the loop's initial
    // checkpoint) — the same pin-first-then-measure discipline
    // GlobalRank uses. Scan-shaped and already-pinned inputs keep
    // their plans untouched, so in-repo callers see zero plan change.
    val nodesOnly = Checkpoints.pinIfDerived(nodes.select(col(idCol)))
    val nNodes = nodesOnly.count()
    val edgeCap = 6L * threshold
    val smallEdges: Option[Array[Row]] =
      if (nNodes > threshold) None
      else {
        // limit() bounds the driver transfer even if a caller breaks
        // the ≤6·|V| convention; cap+1 rows distinguish "fits" from
        // "over cap" without a separate count job
        val probe = edges.select(col(srcCol), col(dstCol))
          .limit(math.min(edgeCap + 1, Int.MaxValue.toLong).toInt).collect()
        if (probe.length <= edgeCap) Some(probe) else None
      }
    if (nNodes <= threshold && smallEdges.isDefined) {
      // collected iterate: union-find with min-id roots — the same
      // component-MINIMUM fixpoint as the join loop, bit-for-bit
      val ns = nodesOnly.collect().map(_.getLong(0))
      val es = smallEdges.get.map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap[Long, Long]()
      ns.foreach(n => parent(n) = n)
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      es.foreach { case (a, b) =>
        if (parent.contains(a) && parent.contains(b)) {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) {
            // min-id root keeps the label the min-propagation loop emits
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
      }
      val rows: java.util.List[Row] = java.util.Arrays.asList(
        ns.sorted.map(n => Row(n, find(n))): _*)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol,
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("component",
          org.apache.spark.sql.types.LongType, nullable = true)))
      return spark.createDataFrame(rows, schema)
    }
    val pairs = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
    val und = pairs.unionByName(
      pairs.select(col("__dst").as("__src"), col("__src").as("__dst")))
      .localCheckpoint()
    var snap = nodesOnly.select(col(idCol), col(idCol).as("component"))
      .localCheckpoint()
    var labels = snap
    var changed = 1L
    var iters = 0
    while (changed > 0 && iters < maxIters) {
      val nbrMin = und
        .join(labels.select(col(idCol).as("__dst"),
          col("component").as("__nc")), "__dst")
        .groupBy(col("__src").as(idCol))
        .agg(min("__nc").as("__nbr_min"))
      // carry the PREVIOUS label through the round's checkpoint so the
      // convergence check is a filter-count over the materialized
      // blocks — the old shape re-joined next against labels (one
      // extra shuffle join + job per round; r18 optimization)
      val next = labels
        .join(nbrMin, Seq(idCol), "left")
        .select(col(idCol), col("component").as("__prev"),
          least(col("component"),
            coalesce(col("__nbr_min"), col("component"))).as("component"))
        .localCheckpoint()
      changed = next.filter(col("__prev") =!= col("component")).count()
      // the superseded round is dead once `next` is materialized and the
      // change count has run
      Checkpoints.release(snap)
      snap = next
      labels = next.select(col(idCol), col("component"))
      iters += 1
    }
    Checkpoints.release(und)
    if (changed > 0) {
      Checkpoints.release(snap)
      throw new IllegalStateException(s"connectedComponents stopped at " +
        s"maxIters=$maxIters with $changed labels still changing; the " +
        "labels are not the component fixpoint")
    }
    labels
  }
}
