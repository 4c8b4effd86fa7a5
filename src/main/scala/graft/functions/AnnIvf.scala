package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-style approximate nearest-neighbor search with a learned coarse
  * quantizer — the 100 TB ANN path: fit k-means ONCE on a bounded sample
  * (offline; never inside the per-query plan), assign every vector to a
  * cell at write time, then answer each query by scoring only the
  * `nprobe` cells whose centroids are nearest to the query.
  *
  * The quantizer is SPHERICAL: vectors are unit-normalized (through
  * [[VectorFunctions.unitNormalized]], the normalization PQ shares)
  * before both training and assignment, so cells partition by direction
  * — the quantity cosine top-k ranks by. Clustering raw vectors mixes
  * magnitude into the cells and craters recall.
  *
  * The fit is [[AnnPq.fitCodebooks]] with one subspace: driver-side
  * Lloyd on the md5-ordered fixed-count sample of [[AnnPq.fitSample]],
  * so the centroids — and every cell — are a function of the data
  * alone, identical at any partition count or file-split size.
  *
  * Scale shape: cell assignment is a map-side projection (element 0 of
  * a one-subspace [[AnnPq.encode]] over the centroids passed in, PQ's
  * compiled nearest-centroid kernel); the probe is an equi-join on
  * the cell id (cells are shuffle keys, candidate lists stay bounded);
  * the centroid table is `k` rows of model metadata broadcast to rank
  * probe cells — never a per-row driver lookup.
  */
object AnnIvf {

  /** The coarse quantizer's `k` centroids (unit-sphere coordinates). */
  def fitQuantizer(sample: Array[Array[Float]], k: Int): Array[Array[Double]] =
    AnnPq.fitCodebooks(sample, m = 1, k = k, iters = 20)(0)

  /** `emb` (vec_id, embedding, ...) + INT `cell`: the index of the
    * centroid nearest to each unit-normalized vector.
    */
  def assign(emb: DataFrame, cents: Array[Array[Double]]): DataFrame =
    emb.withColumn("__n", VectorFunctions.norm("embedding"))
      .withColumn("cell", AnnPq.encode(
        VectorFunctions.unitNormalized("embedding", "__n"), Array(cents))
        .getItem(0))
      .drop("__n")

  /** Top-`topK` cosine neighbors for every vector matching `queryPred`,
    * scoring only the `nprobe` nearest cells per query. Output:
    * (q_id, rank, neighbor_id, cell, cosine), deterministically ordered.
    */
  def topk(s: SparkSession, emb: DataFrame, cents: Array[Array[Double]],
      queryPred: Column, topK: Int, nprobe: Int): DataFrame =
    topkAssigned(s, assign(emb, cents), cents, queryPred, topK, nprobe)

  /** Same search over an ALREADY cell-assigned table — the serving path:
    * cells were assigned at write time (e.g. a parquet layout
    * partitioned by `cell`), so the probe join's cell filter can prune
    * whole partitions via dynamic partition pruning instead of scanning
    * the corpus. Input needs (vec_id, embedding, cell).
    */
  def topkAssigned(s: SparkSession, assigned0: DataFrame,
      cents: Array[Array[Double]], queryPred: Column, topK: Int,
      nprobe: Int): DataFrame = {
    import s.implicits._
    val assigned = assigned0
      .select(col("vec_id"), col("embedding"), col("cell"),
        VectorFunctions.norm("embedding").as("norm"))
    val centroids = cents.toSeq.zipWithIndex
      .map { case (c, i) => (i, c) }
      .toDF("cand_cell", "centroid")
    val q = assigned.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val wq = Window.partitionBy("q_id").orderBy(col("dist2"), col("cand_cell"))
    val qCells = q.crossJoin(broadcast(centroids))
      .withColumn("dist2", expr(
        """aggregate(zip_with(q_emb, centroid,
          |  (x, y) -> (CAST(x AS DOUBLE) / q_norm - y)
          |          * (CAST(x AS DOUBLE) / q_norm - y)),
          |  0D, (acc, v) -> acc + v)""".stripMargin))
      .withColumn("cr", row_number().over(wq))
      .filter(col("cr") <= nprobe)
      .select(col("q_id"), col("cand_cell").as("probe_cell"),
        col("q_emb"), col("q_norm"))
    val scored = assigned.join(broadcast(qCells),
        col("cell") === col("probe_cell") && col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        VectorFunctions.dot("q_emb", "embedding")
          / (col("q_norm") * col("norm")))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cell"), round(col("cos"), 6).as("cosine"))
      .orderBy("q_id", "rank")
  }
}
