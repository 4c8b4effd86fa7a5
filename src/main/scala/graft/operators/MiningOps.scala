package graft.operators

import graft.{OpGroup, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-set mining operators (round-10 widening, second session):
  * hard-negative mining (for each query vector, the closest vectors of
  * a DIFFERENT label — the negatives that actually teach a contrastive
  * model something) and near-dup cluster source purity (do duplicate
  * clusters stay inside one source, or is content leaking across
  * sources — the cluster-grain sibling of cross_source_contamination).
  *
  * Determinism & scale design:
  *   - Hard negatives: the 5 query vectors broadcast; each corpus
  *     vector scores map-side with the codegen FixedPointDot (exact
  *     int64); per-query top-5 via row_number ≤ k over qid partitions —
  *     the WindowGroupLimit shape (knn_graph_topk precedent): Spark
  *     pushes the k-limit into per-partition partial sorts, so a giant
  *     corpus never materializes a full per-query sort.
  *   - Oracle type rule (r11): oracle output type = Spark output type,
  *     ALWAYS — a HUGEINT never reaches a SELECT list. `dot_fp` is
  *     Spark BIGINT (fixed_dot), so DuckDB's HUGEINT sum casts back to
  *     BIGINT; envelope: fixed_dot = Σ floor(aᵢ·bᵢ·1e15) ≤
  *     1e15·Σ|aᵢ||bᵢ| ≤ 1e15·max|x|²·d — for the ≤unit-scale fixture
  *     embeddings that is ≈1e15, four orders inside int64.
  *   - Cluster purity reads the SAME persisted ccLabels layout as the
  *     other three cluster consumers (closure derived once, policies
  *     differ); the per-cluster rollup is map-side-combinable and the
  *     report is one row.
  */
object MiningOps extends OpGroup {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Hard negatives: top-5 highest-dot different-label vectors per
    // query (queries = vec_id 0..4).
    "hard_negative_mining" -> ((s, d) => {
      val qs = Tables.embeddings(s, d).filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
          col("label").as("q_label"))
      val cand = Tables.embeddings(s, d)
        .crossJoin(broadcast(qs))
        .filter(col("label") =!= col("q_label"))
        .select(col("qid"), col("vec_id"),
          graft.functions.VectorFunctions
            .fixedDot(col("embedding"), col("q_emb")).as("dot_fp"))
      val w = Window.partitionBy("qid")
        .orderBy(col("dot_fp").desc, col("vec_id"))
      cand.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("qid", "rank", "vec_id", "dot_fp")
        .orderBy("qid", "rank")
    }),

    // Cluster source purity over the persisted near-dup components:
    // among multi-document clusters, how many span >1 source (leaked
    // content) and how many documents sit inside those mixed clusters.
    "neardup_cluster_source_purity" -> ((s, d) => {
      val labels = s.read.parquet(TrainingDataOps.ccLabels(s, d))
      val src = Tables.documents(s, d).select("doc_id", "source")
      val per = labels.join(src, "doc_id")
        .groupBy("component")
        .agg(count(lit(1)).as("sz"), countDistinct("source").as("nsrc"))
        .filter(col("sz") >= 2)
      per.agg(count(lit(1)).as("n_multi_clusters"),
          sum(when(col("nsrc") === 1, 1L).otherwise(0L)).as("n_pure"),
          sum(when(col("nsrc") > 1, 1L).otherwise(0L)).as("n_mixed"),
          sum(when(col("nsrc") > 1, col("sz")).otherwise(0L))
            .as("n_docs_in_mixed"))
        .withColumn("mixed_rate_fp",
          expr("CASE WHEN n_multi_clusters = 0 THEN 0 " +
            "ELSE n_mixed * 1000000 DIV n_multi_clusters END"))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "hard_negative_mining" ->
      s"""WITH qs AS (
         |  SELECT vec_id AS qid, embedding AS q_emb, label AS q_label
         |  FROM embeddings WHERE vec_id < 5),
         |dots AS (
         |  SELECT q.qid, e.vec_id,
         |         CAST(${graft.functions.VectorFunctions.dotFpDuck("e.embedding", "q.q_emb")}
         |           AS BIGINT) AS dot_fp
         |  FROM embeddings e CROSS JOIN qs q
         |  CROSS JOIN range(1, 4097) t(i)
         |  WHERE e.label <> q.q_label
         |    AND t.i <= least(len(e.embedding), len(q.q_emb))
         |  GROUP BY q.qid, e.vec_id),
         |ranked AS (
         |  SELECT qid, vec_id, dot_fp,
         |         CAST(row_number() OVER (PARTITION BY qid
         |           ORDER BY dot_fp DESC, vec_id) AS INT) AS rank
         |  FROM dots)
         |SELECT qid, rank, vec_id, dot_fp
         |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // the same recursive closure as the other cluster consumers,
    // joined to sources and rolled to the purity report
    "neardup_cluster_source_purity" ->
      s"""WITH RECURSIVE ${LlmOps.jaccardCtesDuck},
         |jp AS (
         |  SELECT doc_a, doc_b FROM pairs
         |  WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) >= 0.3),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM jp
         |  UNION ALL SELECT doc_b, doc_a FROM jp),
         |reach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM docs
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
         |comp AS (SELECT src AS doc_id, min(dst) AS component
         |         FROM reach GROUP BY src),
         |per AS (
         |  SELECT c.component, CAST(count(*) AS BIGINT) AS sz,
         |         CAST(count(DISTINCT dd.source) AS BIGINT) AS nsrc
         |  FROM comp c JOIN documents dd ON dd.doc_id = c.doc_id
         |  GROUP BY c.component
         |  HAVING count(*) >= 2),
         |m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_multi_clusters,
         |         CAST(sum(CASE WHEN nsrc = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_pure,
         |         CAST(sum(CASE WHEN nsrc > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_mixed,
         |         CAST(sum(CASE WHEN nsrc > 1 THEN sz ELSE 0 END) AS BIGINT)
         |           AS n_docs_in_mixed
         |  FROM per)
         |SELECT n_multi_clusters, n_pure, n_mixed, n_docs_in_mixed,
         |       CAST(CASE WHEN n_multi_clusters = 0 THEN 0
         |            ELSE n_mixed * 1000000 // n_multi_clusters END AS BIGINT)
         |         AS mixed_rate_fp
         |FROM m""".stripMargin,
  )
}
