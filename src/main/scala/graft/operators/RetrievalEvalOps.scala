package graft.operators

import graft.{OpGroup, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval-quality evaluation metrics (round-10 widening, fourth
  * session): MRR, NDCG@10, and MAP@10 of the cell-restricted ANN run
  * against brute-force exact ground truth — the metric triple every
  * retrieval/RAG deployment publishes next to recall@k
  * (`ann_recall_eval` / `ann_recall_at_k_curve` cover recall; these
  * cover rank POSITION quality, graded gain, and precision averaging).
  *
  * Structure is the ann_recall_eval recipe verbatim: ONE brute-force
  * scored set over the ≤10-query sample feeds both the ground-truth
  * ranking (exact top-k over all candidates) and the evaluated run
  * (the same rows filtered to the query's cell) — scoring can never
  * diverge between the two sides. Ground truth is only ever computed
  * for the bounded query SAMPLE (the acceptance-gate pattern), never
  * as a corpus×corpus scan.
  *
  * Determinism: ranks are row_number over (cos DESC, vec_id) total
  * orders; every metric is integer fixed-point — reciprocal ranks are
  * exact 1e6 divisions, DCG position discounts FLOOR(1e9/log2(pos+1))
  * are single IEEE expressions over integer positions (identical parse
  * trees both engines) summed as int64, AP terms are per-leaf integer
  * divisions. No double ever crosses an aggregation boundary.
  */
object RetrievalEvalOps extends OpGroup {

  /** Shared scored set: every (candidate, query) cosine for the ≤10
    * query sample, with the candidate's cell label for the IVF filter.
    */
  private def scoredSet(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"),
        graft.functions.VectorFunctions.norm("embedding").as("norm"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("q_emb"), col("norm").as("q_norm"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        graft.functions.VectorFunctions.dot("q_emb", "embedding") /
          (col("q_norm") * col("norm")))
  }

  private val rankW =
    Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))

  /** 1e9 fixed-point DCG discount for an integer position expression —
    * identical text on both engines.
    */
  private def discountSql(pos: String): String =
    s"CAST(FLOOR(1000000000.0 / log2($pos + 1)) AS BIGINT)"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // MRR: at which position does the IVF run surface the exact top-1
    // neighbor. A cell miss scores 0 (the standard convention).
    "mrr_eval_ann" -> ((s, d) => {
      val scored = scoredSet(s, d)
      val gt = scored.withColumn("rank", row_number().over(rankW))
        .filter(col("rank") === 1)
        .select(col("q_id"), col("vec_id").as("gt_id"))
      val ivf = scored.filter(col("label") === col("q_label"))
        .withColumn("ivf_rank", row_number().over(rankW))
        .filter(col("ivf_rank") <= 10)
        .select(col("q_id"), col("vec_id"), col("ivf_rank"))
      gt.join(ivf,
          gt("q_id") === ivf("q_id") && col("gt_id") === col("vec_id"),
          "left")
        .select(gt("q_id"), col("gt_id"), col("ivf_rank"),
          coalesce(expr("1000000 DIV ivf_rank"), lit(0L)).as("rr_fp"))
        .orderBy("q_id")
    }),

    // NDCG@10: graded relevance from the exact ranking (rel = 4 − exact
    // rank for the top 3, else 0), gain discounted by position in the
    // IVF run, normalized by the ideal ordering of the same grades.
    "ndcg_at_k_ann" -> ((s, d) => {
      val scored = scoredSet(s, d)
      val rel = scored.withColumn("rank", row_number().over(rankW))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("vec_id"),
          (lit(4) - col("rank")).cast("long").as("rel"))
      val run = scored.filter(col("label") === col("q_label"))
        .withColumn("pos", row_number().over(rankW))
        .filter(col("pos") <= 10)
        .select(col("q_id"), col("vec_id"), col("pos"))
      val dcg = run.join(rel, Seq("q_id", "vec_id"), "left")
        .withColumn("g", coalesce(col("rel"), lit(0L)))
        .groupBy("q_id")
        .agg(count(lit(1)).as("n_run"),
          sum(expr(s"g * ${discountSql("pos")}")).as("dcg_fp"))
      val wi = Window.partitionBy("q_id")
        .orderBy(col("rel").desc, col("vec_id"))
      val idcg = rel.withColumn("ipos", row_number().over(wi))
        .groupBy("q_id")
        .agg(sum(expr(s"rel * ${discountSql("ipos")}")).as("idcg_fp"))
      dcg.join(idcg, "q_id")
        .withColumn("ndcg_fp", expr("dcg_fp * 1000000 DIV idcg_fp"))
        .select("q_id", "n_run", "dcg_fp", "idcg_fp", "ndcg_fp")
        .orderBy("q_id")
    }),

    // MAP@10: average precision of the IVF run against the exact top-3
    // relevant set — precision@pos summed at each hit, normalized by
    // |relevant|. The hit prefix count is a bounded per-query window
    // (≤10 rows); each AP term is one exact integer division at 1e9.
    "map_at_k_ann" -> ((s, d) => {
      val scored = scoredSet(s, d)
      val rel = scored.withColumn("rank", row_number().over(rankW))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
      val run = scored.filter(col("label") === col("q_label"))
        .withColumn("pos", row_number().over(rankW))
        .filter(col("pos") <= 10)
        .select(col("q_id"), col("vec_id"), col("pos"))
      val wp = Window.partitionBy("q_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      run.join(rel, Seq("q_id", "vec_id"), "left")
        .withColumn("h", coalesce(col("hit"), lit(0L)))
        .withColumn("cum_h", sum("h").over(wp))
        .withColumn("term_fp",
          expr("CASE WHEN h = 1 THEN cum_h * 1000000000 DIV (pos * 3) " +
            "ELSE 0 END"))
        .groupBy("q_id")
        .agg(count(lit(1)).as("n_run"), sum("h").as("n_hits"),
          sum("term_fp").as("ap_fp"))
        .orderBy("q_id")
    }),
  )

  private def ivfRunDuck(k: Int): String =
    s"""run AS (
       |  SELECT id_b AS q_id, id_a AS vec_id, rank AS pos FROM (
       |    SELECT s.id_b, s.id_a, row_number() OVER (PARTITION BY s.id_b
       |             ORDER BY s.cos DESC, s.id_a) AS rank
       |    FROM scored s JOIN lab q ON q.vec_id = s.id_b
       |    WHERE s.pair_label = q.label) rk WHERE rank <= $k)""".stripMargin

  private def exactTopDuck(k: Int): String =
    s"""exact AS (
       |  SELECT id_b AS q_id, id_a AS vec_id, rank FROM (
       |    SELECT id_b, id_a, row_number() OVER (PARTITION BY id_b
       |             ORDER BY cos DESC, id_a) AS rank
       |    FROM scored) rk WHERE rank <= $k)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "mrr_eval_ann" -> (
      LlmOps.cosinePairsDuck("b.vec_id < 10 AND a.vec_id <> b.vec_id") +
      s""",
         |lab AS (SELECT vec_id, label FROM embeddings),
         |${exactTopDuck(1)},
         |${ivfRunDuck(10)}
         |SELECT e.q_id, e.vec_id AS gt_id,
         |       CAST(r.pos AS INTEGER) AS ivf_rank,
         |       CAST(COALESCE(1000000 // r.pos, 0) AS BIGINT) AS rr_fp
         |FROM exact e LEFT JOIN run r
         |  ON r.q_id = e.q_id AND r.vec_id = e.vec_id
         |ORDER BY e.q_id""".stripMargin),

    "ndcg_at_k_ann" -> (
      LlmOps.cosinePairsDuck("b.vec_id < 10 AND a.vec_id <> b.vec_id") +
      s""",
         |lab AS (SELECT vec_id, label FROM embeddings),
         |${exactTopDuck(3)},
         |rel AS (SELECT q_id, vec_id, CAST(4 - rank AS BIGINT) AS rel
         |        FROM exact),
         |${ivfRunDuck(10)},
         |dcg AS (
         |  SELECT r.q_id, CAST(count(*) AS BIGINT) AS n_run,
         |         CAST(sum(COALESCE(x.rel, 0)
         |           * ${discountSql("r.pos")}) AS BIGINT) AS dcg_fp
         |  FROM run r LEFT JOIN rel x
         |    ON x.q_id = r.q_id AND x.vec_id = r.vec_id
         |  GROUP BY r.q_id),
         |ideal AS (
         |  SELECT q_id, CAST(sum(rel * ${discountSql("ipos")}) AS BIGINT)
         |           AS idcg_fp
         |  FROM (SELECT q_id, rel, row_number() OVER (PARTITION BY q_id
         |          ORDER BY rel DESC, vec_id) AS ipos FROM rel) i
         |  GROUP BY q_id)
         |SELECT d.q_id, d.n_run, d.dcg_fp, i.idcg_fp,
         |       CAST(d.dcg_fp * 1000000 // i.idcg_fp AS BIGINT) AS ndcg_fp
         |FROM dcg d JOIN ideal i ON i.q_id = d.q_id
         |ORDER BY d.q_id""".stripMargin),

    "map_at_k_ann" -> (
      LlmOps.cosinePairsDuck("b.vec_id < 10 AND a.vec_id <> b.vec_id") +
      s""",
         |lab AS (SELECT vec_id, label FROM embeddings),
         |${exactTopDuck(3)},
         |rel AS (SELECT q_id, vec_id, 1 AS hit FROM exact),
         |${ivfRunDuck(10)},
         |hits AS (
         |  SELECT r.q_id, r.pos, COALESCE(x.hit, 0) AS h,
         |         CAST(sum(COALESCE(x.hit, 0)) OVER (PARTITION BY r.q_id
         |           ORDER BY r.pos) AS BIGINT) AS cum_h
         |  FROM run r LEFT JOIN rel x
         |    ON x.q_id = r.q_id AND x.vec_id = r.vec_id)
         |SELECT q_id, CAST(count(*) AS BIGINT) AS n_run,
         |       CAST(sum(h) AS BIGINT) AS n_hits,
         |       CAST(sum(CASE WHEN h = 1
         |         THEN cum_h * 1000000000 // (pos * 3) ELSE 0 END)
         |         AS BIGINT) AS ap_fp
         |FROM hits GROUP BY q_id ORDER BY q_id""".stripMargin),
  )
}
