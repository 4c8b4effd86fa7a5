package graft.operators

import graft.{OpGroup, Tables}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** CDC-incremental maintenance of the EMBEDDING serving layouts (round
  * 15, VERDICT r14 ask #2) — the vector-side sibling of
  * [[IncrementalMaintainOps]]: a 100 TB vector corpus is not re-indexed
  * per ingest batch; a CDC batch (inserts / updates / deletes) is
  * applied to the persisted IVF serving state — cell assignment,
  * `.dist2` residual sidecar, PQ codes — without a rebuild AND without a
  * model refit:
  *
  *   - fresh vectors (updates' new embeddings + inserts) quantize
  *     against the FROZEN coarse quantizer and FROZEN PQ codebooks (the
  *     serving-layout contract: batch rows and carried rows must be
  *     comparable, so they must come from one model — refitting per
  *     batch would silently re-key every cell);
  *   - retired keys (updates' old rows + deletes) anti-join out against
  *     the broadcast batch key set;
  *   - per-cell population stats maintain ADDITIVELY:
  *     stats' = stats + fresh(cell) − retired(cell), never a corpus
  *     re-count.
  *
  * Correctness contract (checked, not trusted — the
  * `incremental_neardup_maintain` pattern): the maintained layout is
  * compared KEY-BY-KEY against a from-scratch rebuild of the post-merge
  * corpus on the SAME frozen models — cell, dist2_fp, and codes must all
  * be bit-equal per key — and the DuckDB oracle recomputes every count
  * of that audit from the two persisted parquets + the embeddings
  * table. The additive cell stats are checked against a full re-count
  * of the maintained layout. AnnSpec pins the locality law: a 1-vector
  * batch changes exactly one cell's stats and leaves every other row of
  * the serving table bit-identical.
  *
  * 100 TB shape: the batch relations (retired keys, fresh encoded rows,
  * stat deltas) are broadcast; the only corpus-sized touches are the
  * retire anti-join (map-side against the broadcast key set) and the
  * carried-row copy — scans with broadcast filters, ZERO corpus
  * shuffles; stored cell-partitioned, the retire probe becomes a
  * partition-pruned read. Encoding cost is batch × (k centroids +
  * m·k codebook cells) — batch-proportional, model state broadcast.
  *
  * CDC batch rule (deterministic, replayable from vec_id on both
  * engines): vec_id % 10 = 3 → UPDATE (embedding REVERSED — a pure
  * permutation, no float arithmetic, so the new vector is exactly
  * representable), % 10 = 7 → DELETE, % 10 = 1 → INSERT a verbatim copy
  * under vec_id + 1e9 (guarded fresh key, same cell/dist/codes as its
  * source by determinism of the frozen models).
  */
object IncrementalIvfOps extends OpGroup {

  private val VecShift = 1000000000L

  /** Fresh-key mint with the loud collision guard (the
    * IncrementalMaintainOps idiom, ADVICE r14): a base corpus with
    * vec_ids ≥ 1e9 would collide minted keys and misclassify carried
    * rows on both engines — abort at mint time, in the value path.
    */
  private def mintedKey = expr(
    s"CASE WHEN vec_id >= 0 AND vec_id < ${VecShift}L " +
      s"THEN vec_id + ${VecShift}L " +
      "ELSE CAST(raise_error('incremental_ivf: vec_id outside " +
      "[0, VecShift) — minted insert keys would collide') AS BIGINT) END")

  /** The fresh (to-be-encoded) side of the batch: updates' new vectors
    * + inserted copies. Batch-sized by construction.
    */
  private[operators] def freshBatchVecs(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val m = col("vec_id") % 10
    emb.filter(m === 3)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      .unionByName(emb.filter(m === 1)
        .select(mintedKey.as("vec_id"), col("embedding")))
  }

  /** Post-merge corpus — what a from-scratch rebuild indexes. */
  private[graft] def postMergeVecs(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val m = col("vec_id") % 10
    emb.filter(m =!= 3 && m =!= 7).unionByName(freshBatchVecs(s, d))
  }

  /** Encode (vec_id, embedding) rows on the FROZEN models into serving
    * rows (vec_id, cell, dist2_fp, codes) — bit-identical to what the
    * original layout build produced for the same vectors: cell via the
    * frozen centroids' assignment, dist2_fp via the exact
    * [[SemiStructuredOps.outlierDistances]] float-then-fixed-point
    * derivation against the PERSISTED centroids, codes via the frozen
    * PQ codebooks over the same unit-normalized floats.
    */
  private[graft] def encodeOnFrozen(
      s: SparkSession, d: String, vecs: DataFrame): DataFrame = {
    val cents = s.read
      .parquet(s"${SemiStructuredOps.ivfLayout(s, d)}.centroids")
      .select(col("cand_cell").cast("int").as("cell"), col("centroid"))
    graft.functions.AnnIvf
      .assign(vecs, SemiStructuredOps.frozenQuantizer(s, d))
      .select(col("vec_id"), col("embedding"), col("cell"))
      .withColumn("norm", graft.functions.VectorFunctions.norm("embedding"))
      .join(broadcast(cents), "cell")
      .withColumn("diff", expr(
        """zip_with(embedding, centroid,
          |  (x, y) -> CAST(CAST(x AS DOUBLE) / norm - y AS FLOAT))"""
          .stripMargin))
      .withColumn("dist2_fp",
        graft.functions.VectorFunctions.fixedDot(col("diff"), col("diff")))
      .withColumn("ne", graft.functions.VectorFunctions
        .unitNormalized("embedding", "norm"))
      .withColumn("codes", graft.functions.AnnPq.encode(col("ne"),
        SemiStructuredOps.frozenPqCodebook(s, d)))
      .select(col("vec_id"), col("cell").cast("int").as("cell"),
        col("dist2_fp"), col("codes"))
  }

  /** The maintenance fold itself, exposed for AnnSpec's locality law:
    * carried rows are the base minus the broadcast retired key set
    * (never recomputed), fresh rows append.
    */
  private[graft] def maintainServing(base: DataFrame, retired: DataFrame,
      freshEncoded: DataFrame): DataFrame =
    base.join(broadcast(retired), Seq("vec_id"), "left_anti")
      .unionByName(freshEncoded)

  /** Additive cell-stat maintenance: stats' = stats + Δ(batch), exposed
    * for AnnSpec. `retiredCells` / `freshCells` are (cell, dn) deltas.
    */
  private[graft] def maintainCellStats(baseStats: DataFrame,
      delta: DataFrame): DataFrame =
    baseStats.join(broadcast(delta), Seq("cell"), "full_outer")
      .select(col("cell"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n"))
      .filter(col("n") > 0)

  /** Pre-CDC combined serving table (vec_id, cell, dist2_fp, codes) +
    * its per-cell stats — assembled ONCE from the three persisted IVF/PQ
    * artifacts (an offline index-build step, cached like every layout).
    */
  private val baseCache = new graft.Layout("graft_ivfserve_base")

  private[graft] def baseServing(s: SparkSession, d: String): String =
    baseCache(s, d,
        graft.Layout.fingerprint(Tables.embeddings(s, d))) { p =>
      val ivfP = SemiStructuredOps.ivfLayout(s, d)
      val d2 = s.read.parquet(s"$ivfP.dist2")
        .select(col("vec_id"), col("cell").cast("int").as("cell"),
          col("dist2_fp"))
      val codes = s.read
        .parquet(SemiStructuredOps.pqLayoutPathForSpec(s, d))
        .select(col("vec_id"), col("codes"))
      d2.join(codes, "vec_id")
        .write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(p)
      s.read.parquet(p)
        .groupBy(col("cell").cast("int").as("cell"))
        .agg(count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).parquet(s"$p.cellstats")
    }

  private def readServing(s: SparkSession, p: String): DataFrame =
    s.read.parquet(p)
      .select(col("vec_id"), col("cell").cast("int").as("cell"),
        col("dist2_fp"), col("codes"))

  /** Incrementally-maintained serving layout + additively-maintained
    * cell stats.
    */
  private[operators] val incCache = new graft.Layout("graft_ivfserve_inc")

  private[graft] def incServing(s: SparkSession, d: String): String =
    incCache(s, d,
        graft.Layout.fingerprint(Tables.embeddings(s, d))) { p =>
      val baseP = baseServing(s, d)
      val base = readServing(s, baseP)
      val m = col("vec_id") % 10
      val retired = Tables.embeddings(s, d)
        .filter(m.isin(3, 7)).select("vec_id")
      val fresh = encodeOnFrozen(s, d, freshBatchVecs(s, d))
        .localCheckpoint()
      maintainServing(base, retired, fresh)
        .write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(p)
      val delta = fresh.groupBy("cell")
        .agg(count(lit(1)).as("dn"))
        .unionByName(base
          .join(broadcast(retired), Seq("vec_id"), "left_semi")
          .groupBy("cell").agg((-count(lit(1))).as("dn")))
        .groupBy("cell").agg(sum("dn").as("dn"))
      maintainCellStats(s.read.parquet(s"$baseP.cellstats"), delta)
        .write.mode(SaveMode.Overwrite).parquet(s"$p.cellstats")
      graft.functions.Checkpoints.release(fresh)
    }

  /** From-scratch rebuild of the post-merge corpus on the FROZEN models
    * — the ground truth the maintained layout is audited against (never
    * served).
    */
  private val rebuildCache = new graft.Layout("graft_ivfserve_rebuild")

  private[graft] def rebuildServing(s: SparkSession, d: String): String =
    rebuildCache(s, d,
        graft.Layout.fingerprint(Tables.embeddings(s, d))) { p =>
      encodeOnFrozen(s, d, postMergeVecs(s, d))
        .write.mode(SaveMode.Overwrite).parquet(p)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // L55 — the maintenance audit: maintained serving rows vs the
    // frozen-model rebuild, key-by-key with ALL THREE serving columns
    // (cell, dist2_fp, codes) bit-compared, per provenance class; plus
    // the retired-absence row, the key-parity row, and the cell-stats
    // row (additive manifest vs a full re-count of the maintained
    // layout). Every class must read n_rows = n_in_rebuild =
    // n_all_equal except retired_delete (all-absent ⇒ 0s) — the laws
    // visible IN the output and recomputed end-to-end by the oracle
    // from the persisted parquet.
    "incremental_ivf_maintain" -> ((s, d) => {
      val inc = readServing(s, incServing(s, d))
      val reb = readServing(s, rebuildServing(s, d))
      val rebR = reb.select(col("vec_id"), col("cell").as("cell_r"),
        col("dist2_fp").as("d_r"), col("codes").as("codes_r"))
      val allEq = col("cell") === col("cell_r") &&
        col("dist2_fp") === col("d_r") && col("codes") === col("codes_r")
      val per = inc
        .withColumn("op_class",
          when(col("vec_id") >= VecShift, "fresh_insert")
            .when(col("vec_id") % 10 === 3, "fresh_update")
            .otherwise("carried"))
        .join(rebR, Seq("vec_id"), "left")
        .groupBy("op_class")
        .agg(count(lit(1)).as("n_rows"),
          count(col("d_r")).as("n_in_rebuild"),
          sum(when(allEq, 1L).otherwise(0L)).as("n_all_equal"))
      val ret = Tables.embeddings(s, d)
        .filter(col("vec_id") % 10 === 7).select("vec_id")
        .join(reb.select(col("vec_id"), lit(1L).as("in_r")),
          Seq("vec_id"), "left")
        .join(inc.select(col("vec_id"), lit(1L).as("in_i")),
          Seq("vec_id"), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(coalesce(col("in_r"), lit(0L))).as("n_in_rebuild"),
          sum(coalesce(col("in_i"), lit(0L))).as("n_all_equal"))
        .select(lit("retired_delete").as("op_class"), col("n_rows"),
          col("n_in_rebuild"), col("n_all_equal"))
      val par = inc.agg(count(lit(1)).as("n_rows"))
        .crossJoin(broadcast(reb.agg(count(lit(1)).as("n_in_rebuild"))))
        .crossJoin(broadcast(inc.join(rebR, "vec_id").filter(allEq)
          .agg(count(lit(1)).as("n_all_equal"))))
        .select(lit("key_parity").as("op_class"), col("n_rows"),
          col("n_in_rebuild"), col("n_all_equal"))
      val stats = s.read.parquet(s"${incServing(s, d)}.cellstats")
        .select(col("cell"), col("n"))
      val recount = inc.groupBy("cell").agg(count(lit(1)).as("n2"))
      val cs = stats.agg(count(lit(1)).as("n_rows"))
        .crossJoin(broadcast(recount.agg(count(lit(1)).as("n_in_rebuild"))))
        .crossJoin(broadcast(stats.join(recount, "cell")
          .filter(col("n") === col("n2"))
          .agg(count(lit(1)).as("n_all_equal"))))
        .select(lit("cell_stats").as("op_class"), col("n_rows"),
          col("n_in_rebuild"), col("n_all_equal"))
      per.select("op_class", "n_rows", "n_in_rebuild", "n_all_equal")
        .unionByName(ret).unionByName(par).unionByName(cs)
        .orderBy("op_class")
    }),
  )

  /** Oracles address the persisted layouts via lastPath (the Layout
    * contract — Verify runs every query before dumping oracle SQL).
    */
  def oracleSql: Map[String, String] = Map(
    "incremental_ivf_maintain" ->
      s"""WITH inc AS (
         |  SELECT vec_id, CAST(cell AS INTEGER) AS cell, dist2_fp, codes
         |  FROM read_parquet('${incCache.lastPath}/cell=*/*.parquet',
         |                    hive_partitioning=1)),
         |reb AS (
         |  SELECT vec_id, CAST(cell AS INTEGER) AS cell, dist2_fp, codes
         |  FROM read_parquet('${rebuildCache.lastPath}/*.parquet')),
         |sts AS (
         |  SELECT CAST(cell AS INTEGER) AS cell, n
         |  FROM read_parquet('${incCache.lastPath}.cellstats/*.parquet')),
         |cls AS (
         |  SELECT *,
         |         CASE WHEN vec_id >= $VecShift THEN 'fresh_insert'
         |              WHEN vec_id % 10 = 3 THEN 'fresh_update'
         |              ELSE 'carried' END AS op_class
         |  FROM inc),
         |per AS (
         |  SELECT c.op_class, CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(count(r.vec_id) AS BIGINT) AS n_in_rebuild,
         |         CAST(sum(CASE WHEN c.cell = r.cell
         |                   AND c.dist2_fp = r.dist2_fp
         |                   AND c.codes = r.codes THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_all_equal
         |  FROM cls c LEFT JOIN reb r ON c.vec_id = r.vec_id
         |  GROUP BY 1),
         |ret AS (
         |  SELECT 'retired_delete' AS op_class,
         |         CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(sum(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0
         |           END) AS BIGINT) AS n_in_rebuild,
         |         CAST(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0
         |           END) AS BIGINT) AS n_all_equal
         |  FROM (SELECT vec_id FROM embeddings WHERE vec_id % 10 = 7) dl
         |  LEFT JOIN reb r ON r.vec_id = dl.vec_id
         |  LEFT JOIN inc i ON i.vec_id = dl.vec_id),
         |par AS (
         |  SELECT 'key_parity' AS op_class,
         |         (SELECT CAST(count(*) AS BIGINT) FROM inc) AS n_rows,
         |         (SELECT CAST(count(*) AS BIGINT) FROM reb)
         |           AS n_in_rebuild,
         |         (SELECT CAST(count(*) AS BIGINT) FROM inc i
         |          JOIN reb r ON i.vec_id = r.vec_id
         |            AND i.cell = r.cell AND i.dist2_fp = r.dist2_fp
         |            AND i.codes = r.codes) AS n_all_equal),
         |rc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n2
         |       FROM inc GROUP BY cell),
         |cst AS (
         |  SELECT 'cell_stats' AS op_class,
         |         (SELECT CAST(count(*) AS BIGINT) FROM sts) AS n_rows,
         |         (SELECT CAST(count(*) AS BIGINT) FROM rc)
         |           AS n_in_rebuild,
         |         (SELECT CAST(count(*) AS BIGINT) FROM sts s
         |          JOIN rc r ON s.cell = r.cell AND s.n = r.n2)
         |           AS n_all_equal)
         |SELECT * FROM per
         |UNION ALL SELECT * FROM ret
         |UNION ALL SELECT * FROM par
         |UNION ALL SELECT * FROM cst
         |ORDER BY op_class""".stripMargin,
  )
}
