package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

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
    * A graph whose nodes and edges fit the size oracle
    * (`graft.plans.SizeRoute`) is resolved with one collect + a
    * union-find instead of O(diameter) join rounds of two near-empty
    * jobs each (measured r18: incremental_cc_relabel spent its seconds
    * on ~40 of them).
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      idCol: String, srcCol: String, dstCol: String,
      maxIters: Int = 20): DataFrame = {
    val spark = nodes.sparkSession
    // Pin a DERIVED nodes plan before routing (r19): a routing collect
    // executes it, and the distributed loop executes it again.
    // Scan-shaped and already-pinned inputs are left untouched.
    val nodesOnly = Checkpoints.pinIfDerived(nodes.select(col(idCol)))
    val collected = graft.plans.SizeRoute.collectIfSmall(nodesOnly,
      edges.select(col(srcCol), col(dstCol)))
    if (collected.isDefined) {
      // collected iterate: union-find with min-id roots — the same
      // component-MINIMUM fixpoint as the join loop, bit-for-bit
      val Seq(nRows, eRows) = collected.get
      val ns = nRows.map(_.getLong(0))
      val es = eRows.map(r => (r.getLong(0), r.getLong(1)))
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
      val rows = java.util.Arrays.asList(ns.sorted.map(n => Row(n, find(n))): _*)
      return spark.createDataFrame(rows,
        StructType(Seq(StructField(idCol, LongType), StructField("component", LongType))))
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
