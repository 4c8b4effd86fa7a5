package graft.operators

import graft.{OpGroup, Tables}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDC-incremental maintenance of the kNN-GRAPH edge serving layout
  * (round 16, VERDICT r15 ask #6) — the last rebuild-only serving
  * layout: `knn_graph_topk`'s top-3 same-cell cosine edges feed
  * graph dedup, label propagation, and the whole L39–L57 graph-audit
  * family, but a vector delete/update left STALE edges (pointing at
  * retired vectors, or missing a better fresh neighbor) until a full
  * graph rebuild. This operator applies the IVF CDC batch (the
  * [[IncrementalIvfOps]] rule: vec_id % 10 = 3 → update with reversed
  * embedding, = 7 → delete, = 1 → insert copy under vec_id + 1e9) to a
  * PERSISTED edge layout without a full rebuild.
  *
  * Locality argument (why cell-level recompute is exact): candidates
  * for a source are exactly its cell's members (the knn_graph_topk
  * contract), so a source's top-3 can change ONLY if its cell's
  * membership changed — a member retired (slot vacates), a fresh
  * vector arrived (slot contested), or the source itself is batch
  * (and then its old and new cells both changed membership). All
  * three imply the source's cell is an AFFECTED cell (= old cells of
  * retired rows ∪ frozen-quantizer cells of fresh rows), so:
  *
  *   - edges of UNTOUCHED cells carry over verbatim (`prov =
  *     'carried'` — provenance is persisted so the audit and the
  *     locality spec can see the split);
  *   - edges of affected cells recompute from the post-merge members
  *     of JUST those cells (`prov = 'recomputed'`);
  *   - and nothing else exists: within-cell edges mean a retired dst's
  *     cell is the src's cell, so dangling-edge cleanup is subsumed.
  *
  * Cost is Σ|affected cell|² — batch-cell-proportional, against the
  * full rebuild's Σ|cell|². At the fixture's k=4 coarse quantizer a
  * 30%-of-corpus CDC batch touches every cell (the recompute IS the
  * rebuild, honestly); at a production quantizer (k ~ √n cells) a
  * batch touches |batch| cells and the carried fraction dominates —
  * IncrementalKnnSpec pins the one-cell law on a synthetic corpus
  * where the cells ARE distinct. Fresh vectors quantize on the FROZEN
  * coarse quantizer (the IncrementalIvfOps serving-layout contract).
  *
  * Correctness contract (checked, not trusted): the maintained edge
  * layout is compared EDGE-BY-EDGE — (src, rank) → (dst, cosine) both
  * bit-equal — against a from-scratch rebuild over the post-merge
  * corpus on the same frozen models, per provenance class, plus
  * retired-src absence, retired-dst absence, and three-way key
  * parity; the DuckDB oracle recomputes every count from the two
  * persisted parquets + the embeddings table. `right_to_erasure_audit`
  * (Z17) additionally probes the delete set's absence from BOTH edge
  * endpoints of the maintained layout.
  *
  * 100 TB shape: batch-derived relations (retired keys, fresh encoded
  * vectors, affected cell list) are broadcast; corpus-sized touches
  * are the carried-edge anti-join and the affected-cell member probe —
  * scans with broadcast filters (cell-partitioned storage makes both
  * partition-pruned reads); the recompute shuffles only affected-cell
  * members.
  */
object IncrementalKnnOps extends OpGroup {

  private val VecShift = 1000000000L

  /** Top-3 same-cell cosine edges with the source's cell kept in the
    * output — the knn_graph_topk plan (cell equi-join, WindowGroupLimit
    * rank ≤ 3, deterministic (cos DESC, dst) tie-break), factored so
    * base build, affected-cell recompute, and audit rebuild are one
    * pipeline. Input: (vec_id, embedding, cell).
    */
  private[graft] def topkEdges(s: SparkSession, vecs: DataFrame): DataFrame = {
    val withNorm = vecs
      .select(col("vec_id"), col("embedding"), col("cell").cast("int").as("cell"))
      .withColumn("norm", graft.functions.VectorFunctions.norm("embedding"))
    val a = withNorm.select(col("vec_id").as("src"), col("cell"),
      col("embedding").as("emb_a"), col("norm").as("norm_a"))
    val b = withNorm.select(col("vec_id").as("dst"),
      col("cell").as("cell_b"), col("embedding").as("emb_b"),
      col("norm").as("norm_b"))
    val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
    a.join(b, col("cell") === col("cell_b") && col("src") =!= col("dst"))
      .withColumn("cos",
        graft.functions.VectorFunctions.dot("emb_a", "emb_b") /
          (col("norm_a") * col("norm_b")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("src"), col("cell"), col("rank"), col("dst"),
        round(col("cos"), 6).as("cosine"))
  }

  /** The base IVF layout rows (vec_id, embedding, cell) — pre-CDC. */
  private def baseVecs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(SemiStructuredOps.ivfLayout(s, d))
      .select(col("vec_id"), col("embedding"),
        col("cell").cast("int").as("cell"))

  /** Fresh batch rows encoded on the FROZEN coarse quantizer. */
  private def freshWithCells(s: SparkSession, d: String): DataFrame =
    graft.functions.AnnIvf.assign(IncrementalIvfOps.freshBatchVecs(s, d),
        SemiStructuredOps.frozenQuantizer(s, d))
      .select(col("vec_id"), col("embedding"),
        col("cell").cast("int").as("cell"))

  /** Post-merge corpus with frozen-quantizer cells: carried base rows
    * minus the broadcast retired key set, plus the fresh batch.
    */
  private def postVecs(s: SparkSession, d: String,
      retired: DataFrame, fresh: DataFrame): DataFrame =
    baseVecs(s, d)
      .join(broadcast(retired), Seq("vec_id"), "left_anti")
      .unionByName(fresh)

  /** The maintenance fold, exposed for IncrementalKnnSpec's locality
    * law: carried edges are the base minus affected cells (never
    * recomputed), affected cells recompute from their post-merge
    * members only. Every affected-cell derivation stays broadcast.
    */
  private[graft] def maintainEdges(s: SparkSession, baseEdges: DataFrame,
      post: DataFrame, affectedCells: DataFrame): DataFrame = {
    val carried = baseEdges
      .join(broadcast(affectedCells), Seq("cell"), "left_anti")
      .withColumn("prov", lit("carried"))
    val recomputed = topkEdges(s,
        post.join(broadcast(affectedCells), Seq("cell"), "left_semi"))
      .withColumn("prov", lit("recomputed"))
    carried.unionByName(recomputed)
  }

  /** Pre-CDC persisted edge layout — the serving graph a deployment
    * maintains (built once, like every layout).
    */
  private val baseCache = new graft.Layout("graft_knn_base")

  private[graft] def baseEdgeLayout(s: SparkSession, d: String): String =
    baseCache(s, d, graft.Layout.fingerprint(Tables.embeddings(s, d))) { p =>
      topkEdges(s, baseVecs(s, d))
        .write.mode(SaveMode.Overwrite).parquet(p)
    }

  /** Incrementally-maintained edge layout (with provenance column). */
  private[operators] val incCache = new graft.Layout("graft_knn_inc")

  private[graft] def incEdges(s: SparkSession, d: String): String =
    incCache(s, d, graft.Layout.fingerprint(Tables.embeddings(s, d))) { p =>
      val m = col("vec_id") % 10
      val retired = Tables.embeddings(s, d)
        .filter(m.isin(3, 7)).select("vec_id")
      val fresh = freshWithCells(s, d).localCheckpoint()
      val affected = baseVecs(s, d)
        .join(broadcast(retired), Seq("vec_id"), "left_semi")
        .select("cell")
        .unionByName(fresh.select("cell")).distinct()
      val base = s.read.parquet(baseEdgeLayout(s, d))
      maintainEdges(s, base, postVecs(s, d, retired, fresh), affected)
        .write.mode(SaveMode.Overwrite).parquet(p)
      graft.functions.Checkpoints.release(fresh)
    }

  /** From-scratch rebuild over the post-merge corpus on the frozen
    * quantizer — the audit ground truth (never served).
    */
  private val rebuildCache = new graft.Layout("graft_knn_rebuild")

  private[graft] def rebuildEdges(s: SparkSession, d: String): String =
    rebuildCache(s, d, graft.Layout.fingerprint(Tables.embeddings(s, d))) { p =>
      val m = col("vec_id") % 10
      val retired = Tables.embeddings(s, d)
        .filter(m.isin(3, 7)).select("vec_id")
      val fresh = freshWithCells(s, d).localCheckpoint()
      topkEdges(s, postVecs(s, d, retired, fresh))
        .write.mode(SaveMode.Overwrite).parquet(p)
      graft.functions.Checkpoints.release(fresh)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The maintenance audit: maintained edges vs the frozen-model
    // rebuild, (src, rank)-keyed with dst AND cosine bit-compared, per
    // provenance class; plus retired-src absence, retired-DST absence
    // (a stale edge pointing AT a deleted vector is the compliance
    // leak Z17 hunts), and three-way edge parity. Every class must
    // read n_edges = n_in_rebuild = n_all_equal except the two retired
    // rows (all-absent ⇒ 0s).
    "incremental_knn_maintain" -> ((s, d) => {
      val inc = s.read.parquet(incEdges(s, d))
      val reb = s.read.parquet(rebuildEdges(s, d))
      val rebR = reb.select(col("src"), col("rank"),
        col("dst").as("dst_r"), col("cosine").as("cos_r"))
      val allEq = col("dst") === col("dst_r") && col("cosine") === col("cos_r")
      val per = inc
        .withColumn("op_class",
          when(col("src") >= VecShift, "fresh_insert")
            .when(col("src") % 10 === 3, "fresh_update")
            .when(col("prov") === "carried", "carried")
            .otherwise("recomputed"))
        .join(rebR, Seq("src", "rank"), "left")
        .groupBy("op_class")
        .agg(count(lit(1)).as("n_edges"),
          count(col("dst_r")).as("n_in_rebuild"),
          sum(when(allEq, 1L).otherwise(0L)).as("n_all_equal"))
      def absent(name: String, end: String): DataFrame =
        Tables.embeddings(s, d)
          .filter(col("vec_id") % 10 === 7)
          .select(col("vec_id").as(end))
          .join(reb.groupBy(end).agg(count(lit(1)).as("in_r")),
            Seq(end), "left")
          .join(inc.groupBy(end).agg(count(lit(1)).as("in_i")),
            Seq(end), "left")
          .agg(count(lit(1)).as("n_edges"),
            sum(coalesce(col("in_r"), lit(0L))).as("n_in_rebuild"),
            sum(coalesce(col("in_i"), lit(0L))).as("n_all_equal"))
          .select(lit(name).as("op_class"), col("n_edges"),
            col("n_in_rebuild"), col("n_all_equal"))
      val par = inc.agg(count(lit(1)).as("n_edges"))
        .crossJoin(broadcast(reb.agg(count(lit(1)).as("n_in_rebuild"))))
        .crossJoin(broadcast(inc.join(rebR, Seq("src", "rank"))
          .filter(allEq).agg(count(lit(1)).as("n_all_equal"))))
        .select(lit("key_parity").as("op_class"), col("n_edges"),
          col("n_in_rebuild"), col("n_all_equal"))
      per.select("op_class", "n_edges", "n_in_rebuild", "n_all_equal")
        .unionByName(absent("retired_src", "src"))
        .unionByName(absent("retired_dst", "dst"))
        .unionByName(par)
        .orderBy("op_class")
    }),
  )

  /** Oracles address the persisted layouts via lastPath (the Layout
    * contract — Verify runs every query before dumping oracle SQL).
    */
  def oracleSql: Map[String, String] = Map(
    "incremental_knn_maintain" ->
      s"""WITH inc AS (
         |  SELECT src, rank, dst, cosine, prov
         |  FROM read_parquet('${incCache.lastPath}/*.parquet')),
         |reb AS (
         |  SELECT src, rank, dst, cosine
         |  FROM read_parquet('${rebuildCache.lastPath}/*.parquet')),
         |cls AS (
         |  SELECT *,
         |         CASE WHEN src >= $VecShift THEN 'fresh_insert'
         |              WHEN src % 10 = 3 THEN 'fresh_update'
         |              WHEN prov = 'carried' THEN 'carried'
         |              ELSE 'recomputed' END AS op_class
         |  FROM inc),
         |per AS (
         |  SELECT c.op_class, CAST(count(*) AS BIGINT) AS n_edges,
         |         CAST(count(r.dst) AS BIGINT) AS n_in_rebuild,
         |         CAST(sum(CASE WHEN c.dst = r.dst
         |                   AND c.cosine = r.cosine THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_all_equal
         |  FROM cls c LEFT JOIN reb r
         |    ON c.src = r.src AND c.rank = r.rank
         |  GROUP BY 1),
         |dl AS (SELECT vec_id FROM embeddings WHERE vec_id % 10 = 7),
         |rsrc AS (
         |  SELECT 'retired_src' AS op_class,
         |         CAST(count(*) AS BIGINT) AS n_edges,
         |         CAST(coalesce(sum(r.n), 0) AS BIGINT) AS n_in_rebuild,
         |         CAST(coalesce(sum(i.n), 0) AS BIGINT) AS n_all_equal
         |  FROM dl
         |  LEFT JOIN (SELECT src, count(*) AS n FROM reb GROUP BY src) r
         |    ON r.src = dl.vec_id
         |  LEFT JOIN (SELECT src, count(*) AS n FROM inc GROUP BY src) i
         |    ON i.src = dl.vec_id),
         |rdst AS (
         |  SELECT 'retired_dst' AS op_class,
         |         CAST(count(*) AS BIGINT) AS n_edges,
         |         CAST(coalesce(sum(r.n), 0) AS BIGINT) AS n_in_rebuild,
         |         CAST(coalesce(sum(i.n), 0) AS BIGINT) AS n_all_equal
         |  FROM dl
         |  LEFT JOIN (SELECT dst, count(*) AS n FROM reb GROUP BY dst) r
         |    ON r.dst = dl.vec_id
         |  LEFT JOIN (SELECT dst, count(*) AS n FROM inc GROUP BY dst) i
         |    ON i.dst = dl.vec_id),
         |par AS (
         |  SELECT 'key_parity' AS op_class,
         |         (SELECT CAST(count(*) AS BIGINT) FROM inc) AS n_edges,
         |         (SELECT CAST(count(*) AS BIGINT) FROM reb)
         |           AS n_in_rebuild,
         |         (SELECT CAST(count(*) AS BIGINT) FROM inc i
         |          JOIN reb r ON i.src = r.src AND i.rank = r.rank
         |            AND i.dst = r.dst AND i.cosine = r.cosine)
         |           AS n_all_equal)
         |SELECT * FROM per
         |UNION ALL SELECT * FROM rsrc
         |UNION ALL SELECT * FROM rdst
         |UNION ALL SELECT * FROM par
         |ORDER BY op_class""".stripMargin,
  )
}
