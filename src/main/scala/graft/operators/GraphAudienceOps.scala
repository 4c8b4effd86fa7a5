package graft.operators

import graft.{OpGroup, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph-shape + audience-overlap operators (round-10 widening, fourth
  * session): kNN edge reciprocity (is similarity mutual — the
  * graph-quality number that predicts how aggressively kNN-graph dedup
  * clusters snowball), the SemDeDup τ tuning sweep over within-cell
  * cosine pairs (pair and affected-doc yield per threshold — the
  * embedding-space sibling of `dedup_threshold_sweep`), and the
  * audience-overlap matrix between event types (shared-user Jaccard —
  * the co-engagement view product analytics reads).
  *
  * Determinism & scale design:
  *   - Reciprocity is ONE reversed equi-self-join of the top-3 edge
  *     set (out-degree-bounded).
  *   - The τ sweep reuses the persisted IVF cells: candidates are
  *     within-cell pairs (Σ|cell|², the quantizer-bounded quantity);
  *     all four thresholds read ONE scored pass via a tiny τ-grid
  *     cross join; affected-doc counts are distinct-over-endpoints per
  *     τ (grid-bounded state).
  *   - Audience overlap collapses the stream to per-user type sets
  *     map-side, expands the ≤C(|types|,2) pairs per user by ARRAY
  *     EXPANSION (never a self-join on a hot type), and joins the
  *     |types|-bounded audience totals broadcast.
  */
object GraphAudienceOps extends OpGroup {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Share of directed kNN edges whose reverse edge also exists.
    "knn_edge_reciprocity" -> ((s, d) => {
      // materialized once: the edge set feeds the reverse map, the
      // semi-join probe AND the total count — each reference used to
      // re-execute the kNN pipeline (r18 optimization; ≤ 3·|V| rows)
      val e = SemiStructuredOps.queries("knn_graph_topk")(s, d)
        .select(col("src"), col("dst")).localCheckpoint()
      val rev = e.select(col("dst").as("src"), col("src").as("dst"))
      val recip = e.join(rev, Seq("src", "dst"), "left_semi")
      val n = e.agg(count(lit(1)).as("n_edges"))
      recip.agg(count(lit(1)).as("n_reciprocal"))
        .crossJoin(broadcast(n))
        .withColumn("reciprocity_fp",
          expr("n_reciprocal * 1000000 DIV n_edges"))
        .select("n_edges", "n_reciprocal", "reciprocity_fp")
    }),

    // Rich-club coefficient (r12, third session): do the kNN graph's
    // high-degree hubs preferentially link to EACH OTHER? φ(k) =
    // 2·E_{>k} / (N_{>k}(N_{>k}−1)) over the undirected edge set for
    // k ∈ 1..8 (Zhou & Mondragón 2004) — the hub-interconnection
    // read that predicts whether near-dup clusters share a connected
    // "template core" (assortativity's degree-threshold sibling).
    // Scale: undirected dedup + degree map are edge-linear combinable
    // aggregates; each edge carries min(deg_a, deg_b) via two
    // |V|-bounded equi-joins; the 8-point grid reads ONE edge pass by
    // broadcast non-equi join (order_fill_curve pattern); a k level
    // with nodes but no qualifying edges keeps its row (left join,
    // zero-filled) while an empty node level drops on BOTH engines.
    "rich_club_knn" -> ((s, d) => {
      // materialized once: referenced by the degree map, the per-edge
      // min-degree pass and the k-grid join (r18 optimization)
      val e = SemiStructuredOps.queries("knn_graph_topk")(s, d)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct().localCheckpoint()
      val deg = e.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val ek = e
        .join(deg.select(col("v").as("a"), col("deg").as("deg_a")), "a")
        .join(deg.select(col("v").as("b"), col("deg").as("deg_b")), "b")
        .select(least(col("deg_a"), col("deg_b")).as("mindeg"))
      val grid = e.sparkSession.range(1, 9)
        .select(col("id").cast("long").as("k"))
      val nodesK = grid.join(deg, col("deg") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("n_nodes"))
      val edgesK = grid.join(ek, col("mindeg") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("n_edges"))
      nodesK.join(edgesK, Seq("k"), "left")
        .withColumn("n_edges", coalesce(col("n_edges"), lit(0L)))
        .withColumn("phi_fp", expr(
          """CASE WHEN n_nodes >= 2
            | THEN 2 * n_edges * 1000000 DIV (n_nodes * (n_nodes - 1))
            |ELSE CAST(NULL AS BIGINT) END"""
            .stripMargin.replace("\n", " ")))
        .select("k", "n_nodes", "n_edges", "phi_fp")
        .orderBy("k")
    }),

    // SemDeDup τ sweep: pair + affected-doc yield at τ ∈ {0.80..0.95}
    // over within-cell cosine pairs.
    "semantic_tau_sweep" -> ((s, d) => {
      val stored = s.read.parquet(SemiStructuredOps.ivfLayout(s, d))
        .select(col("vec_id"), col("embedding"),
          col("cell").cast("int").as("cell"))
        .withColumn("norm",
          graft.functions.VectorFunctions.norm("embedding"))
      val a = stored.select(col("vec_id").as("id_a"), col("cell"),
        col("embedding").as("emb_a"), col("norm").as("norm_a"))
      val b = stored.select(col("vec_id").as("id_b"),
        col("cell").as("cell_b"), col("embedding").as("emb_b"),
        col("norm").as("norm_b"))
      val pairs = a.join(b,
          col("cell") === col("cell_b") && col("id_a") < col("id_b"))
        .withColumn("cos",
          graft.functions.VectorFunctions.dot("emb_a", "emb_b") /
            (col("norm_a") * col("norm_b")))
        .select("id_a", "id_b", "cos")
      val taus = pairs.sparkSession.range(0, 4)
        .select((lit(80) + col("id") * 5).cast("long").as("tau_pct"))
      val hits = pairs.crossJoin(broadcast(taus))
        .filter(col("cos") >= col("tau_pct").cast("double") / 100.0)
      val nPairs = hits.groupBy("tau_pct")
        .agg(count(lit(1)).as("n_pairs"))
      val nDocs = hits
        .select(col("tau_pct"), explode(array(col("id_a"), col("id_b")))
          .as("doc"))
        .groupBy("tau_pct")
        .agg(countDistinct("doc").as("n_docs_affected"))
      taus.join(nPairs, Seq("tau_pct"), "left")
        .join(nDocs, Seq("tau_pct"), "left")
        .withColumn("n_pairs", coalesce(col("n_pairs"), lit(0L)))
        .withColumn("n_docs_affected",
          coalesce(col("n_docs_affected"), lit(0L)))
        .orderBy("tau_pct")
    }),

    // Shared-user Jaccard between event-type audiences.
    "audience_overlap_matrix" -> ((s, d) => {
      val userTypes = Tables.events(s, d)
        .select("user_id", "event_type").distinct()
      val sizes = userTypes.groupBy("event_type")
        .agg(count(lit(1)).as("n_aud"))
      val pairs = userTypes.groupBy("user_id")
        .agg(sort_array(collect_set(col("event_type"))).as("ts"))
        // single-type users generate no pairs; without this guard
        // sequence(0, size-2) DESCENDS for size=1 and emits a junk
        // self-pair (GovernanceOps/InfoStatOps precedent)
        .filter(size(col("ts")) >= 2)
        .select(explode(expr(
          """flatten(transform(sequence(0, size(ts) - 2), i ->
            |  transform(sequence(i + 1, size(ts) - 1), j ->
            |    named_struct('a', ts[i], 'b', ts[j]))))"""
            .stripMargin.replace("\n", " "))).as("p"))
        .groupBy(col("p.a").as("type_a"), col("p.b").as("type_b"))
        .agg(count(lit(1)).as("n_both"))
      pairs
        .join(broadcast(sizes.select(col("event_type").as("type_a"),
          col("n_aud").as("n_a"))), "type_a")
        .join(broadcast(sizes.select(col("event_type").as("type_b"),
          col("n_aud").as("n_b"))), "type_b")
        .withColumn("jaccard_fp",
          expr("n_both * 1000000 DIV (n_a + n_b - n_both)"))
        .select("type_a", "type_b", "n_both", "n_a", "n_b", "jaccard_fp")
        .orderBy("type_a", "type_b")
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "rich_club_knn" ->
      s"""WITH ${SemiStructuredOps.knnEdgeCtes},
         |und AS (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM edges),
         |deg AS (
         |  SELECT v, CAST(count(*) AS BIGINT) AS deg
         |  FROM (SELECT a AS v FROM und UNION ALL SELECT b FROM und)
         |  GROUP BY 1),
         |ek AS (
         |  SELECT least(da.deg, db.deg) AS mindeg
         |  FROM und JOIN deg da ON da.v = und.a
         |           JOIN deg db ON db.v = und.b),
         |ks AS (SELECT CAST(i AS BIGINT) AS k FROM range(1, 9) r(i)),
         |nk AS (
         |  SELECT k, CAST(count(*) AS BIGINT) AS n_nodes
         |  FROM ks JOIN deg ON deg.deg > ks.k GROUP BY 1),
         |ekk AS (
         |  SELECT k, CAST(count(*) AS BIGINT) AS n_edges
         |  FROM ks JOIN ek ON ek.mindeg > ks.k GROUP BY 1)
         |SELECT nk.k, nk.n_nodes,
         |       CAST(COALESCE(ekk.n_edges, 0) AS BIGINT) AS n_edges,
         |       CASE WHEN nk.n_nodes >= 2
         |         THEN CAST(2 * COALESCE(ekk.n_edges, 0) * 1000000
         |           // (nk.n_nodes * (nk.n_nodes - 1)) AS BIGINT)
         |       ELSE NULL END AS phi_fp
         |FROM nk LEFT JOIN ekk ON ekk.k = nk.k
         |ORDER BY nk.k""".stripMargin,

    "knn_edge_reciprocity" ->
      s"""WITH ${SemiStructuredOps.knnEdgeCtes},
         |r AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_reciprocal
         |  FROM edges e WHERE EXISTS (
         |    SELECT 1 FROM edges x
         |    WHERE x.src = e.dst AND x.dst = e.src)),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges)
         |SELECT n.n_edges, r.n_reciprocal,
         |       CAST(r.n_reciprocal * 1000000 // n.n_edges AS BIGINT)
         |         AS reciprocity_fp
         |FROM r CROSS JOIN n""".stripMargin,

    // reuses the knn CTE chain up to `scored` (all within-cell ordered
    // pairs with exact-fp cosine); edges itself is unused
    "semantic_tau_sweep" ->
      s"""WITH ${SemiStructuredOps.knnEdgeCtes},
         |p AS (SELECT src AS id_a, dst AS id_b, cos
         |      FROM scored WHERE src < dst),
         |taus AS (SELECT CAST(80 + i * 5 AS BIGINT) AS tau_pct
         |         FROM range(0, 4) r(i)),
         |hits AS (
         |  SELECT t.tau_pct, p.id_a, p.id_b
         |  FROM p CROSS JOIN taus t
         |  WHERE p.cos >= CAST(t.tau_pct AS DOUBLE) / 100.0),
         |np AS (SELECT tau_pct, CAST(count(*) AS BIGINT) AS n_pairs
         |       FROM hits GROUP BY 1),
         |nd AS (
         |  SELECT tau_pct, CAST(count(DISTINCT doc) AS BIGINT)
         |           AS n_docs_affected
         |  FROM (SELECT tau_pct, id_a AS doc FROM hits
         |        UNION ALL SELECT tau_pct, id_b FROM hits) u
         |  GROUP BY 1)
         |SELECT t.tau_pct, COALESCE(np.n_pairs, 0) AS n_pairs,
         |       COALESCE(nd.n_docs_affected, 0) AS n_docs_affected
         |FROM taus t LEFT JOIN np ON np.tau_pct = t.tau_pct
         |LEFT JOIN nd ON nd.tau_pct = t.tau_pct
         |ORDER BY t.tau_pct""".stripMargin,

    "audience_overlap_matrix" ->
      """WITH ut AS (
        |  SELECT DISTINCT user_id, event_type FROM events),
        |sizes AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_aud
        |          FROM ut GROUP BY 1),
        |pairs AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         CAST(count(*) AS BIGINT) AS n_both
        |  FROM ut a JOIN ut b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, p.n_both, sa.n_aud AS n_a,
        |       sb.n_aud AS n_b,
        |       CAST(p.n_both * 1000000 // (sa.n_aud + sb.n_aud - p.n_both)
        |         AS BIGINT) AS jaccard_fp
        |FROM pairs p JOIN sizes sa ON sa.event_type = p.type_a
        |             JOIN sizes sb ON sb.event_type = p.type_b
        |ORDER BY p.type_a, p.type_b""".stripMargin,
  )
}
