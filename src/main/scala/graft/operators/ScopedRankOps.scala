package graft.operators

import graft.{OpGroup, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Multi-scope ranking + cross-modal alignment (round-10 widening,
  * fourth session): top-3 suppliers by revenue at THREE analysis
  * scopes in one GROUPING SETS pass (per nation, per region, global —
  * the leaderboard family the warehouse's rollup tables serve), and
  * the text-length ↔ embedding-norm correlation (the sanity check
  * that the embedding column actually tracks its text sibling — a
  * cross-modal join on the shared id space).
  *
  * Determinism & scale design:
  *   - The scoped leaderboard aggregates ONCE per (region, nation,
  *     supplier) then expands through Dataset.groupingSets — one
  *     shuffle, three scopes; ranks are bounded windows per scope key
  *     (≤ |suppliers| rows each); subtotal NULLs render as 'ALL'.
  *   - The alignment correlation uses the codegen FixedPointDot
  *     squared norm (exact int64) as the embedding leaf — no doubles
  *     until the one terminal ratio over DECIMAL(38,0) moments.
  */
object ScopedRankOps extends OpGroup {

  private val rhoSql =
    """CASE WHEN dx = 0 OR dy = 0 THEN NULL
      |ELSE round(CAST(num AS DOUBLE)
      |  / (sqrt(CAST(dx AS DOUBLE)) * sqrt(CAST(dy AS DOUBLE))), 6)
      |END""".stripMargin.replace("\n", " ")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Top-3 suppliers by revenue per nation / per region / global,
    // from one GROUPING SETS expansion.
    "rank_within_grouping_sets" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_suppkey"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
      val nat = Tables.nation(s, d)
        .select("n_nationkey", "n_name", "n_regionkey")
      val reg = Tables.region(s, d).select("r_regionkey", "r_name")
      val base = li
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      val sets = base.groupingSets(
          Seq(Seq(col("r_name"), col("n_name"), col("l_suppkey")),
            Seq(col("r_name"), col("l_suppkey")),
            Seq(col("l_suppkey"))),
          col("r_name"), col("n_name"), col("l_suppkey"))
        .agg(sum("cents").as("rev_cents"))
        .withColumn("scope", expr(
          """CASE WHEN n_name IS NOT NULL THEN 'nation'
            |     WHEN r_name IS NOT NULL THEN 'region'
            |     ELSE 'global' END""".stripMargin.replace("\n", " ")))
        .withColumn("r_name", coalesce(col("r_name"), lit("ALL")))
        .withColumn("n_name", coalesce(col("n_name"), lit("ALL")))
      val w = Window.partitionBy("scope", "r_name", "n_name")
        .orderBy(col("rev_cents").desc, col("l_suppkey"))
      sets.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select("scope", "r_name", "n_name", "rnk", "l_suppkey",
          "rev_cents")
        .orderBy("scope", "r_name", "n_name", "rnk")
    }),

    // Does the embedding norm track the text length on the shared id
    // space (vec_id = doc_id)?
    "text_embedding_length_corr" -> ((s, d) => {
      // squared norm downscaled 1e9 at the leaf: keeps n·Σy² inside
      // DECIMAL(38,0)/HUGEINT (raw 1e15-scale dots would overflow the
      // moment products); correlation is scale-invariant and the
      // truncation is the same defined quantization on both engines
      val e = Tables.embeddings(s, d).select(col("vec_id"),
          graft.functions.VectorFunctions
            .fixedDot(col("embedding"), col("embedding")).as("y"))
        .withColumn("y", expr("y DIV 1000000000"))
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").as("x"))
      val dec = DecimalType(38, 0)
      e.join(docs, col("vec_id") === col("doc_id"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("x").cast(dec)).as("sx"),
          sum(col("y").cast(dec)).as("sy"),
          sum((col("x") * col("x")).cast(dec)).as("sxx"),
          sum((col("y").cast(dec) * col("y").cast(dec))).as("syy"),
          sum(col("x").cast(dec) * col("y").cast(dec)).as("sxy"))
        .withColumn("num",
          col("n_pairs").cast(dec) * col("sxy") - col("sx") * col("sy"))
        .withColumn("dx",
          col("n_pairs").cast(dec) * col("sxx") - col("sx") * col("sx"))
        .withColumn("dy",
          col("n_pairs").cast(dec) * col("syy") - col("sy") * col("sy"))
        .withColumn("alignment_corr", expr(rhoSql))
        .select("n_pairs", "alignment_corr")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "rank_within_grouping_sets" ->
      """WITH base AS (
        |  SELECT r.r_name, n.n_name, l.l_suppkey,
        |         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem l
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN nation n ON n.n_nationkey = s.s_nationkey
        |  JOIN region r ON r.r_regionkey = n.n_regionkey),
        |sets AS (
        |  SELECT r_name, n_name, l_suppkey,
        |         CAST(sum(cents) AS BIGINT) AS rev_cents
        |  FROM base
        |  GROUP BY GROUPING SETS ((r_name, n_name, l_suppkey),
        |                          (r_name, l_suppkey), (l_suppkey))),
        |scoped AS (
        |  SELECT CASE WHEN n_name IS NOT NULL THEN 'nation'
        |              WHEN r_name IS NOT NULL THEN 'region'
        |              ELSE 'global' END AS scope,
        |         COALESCE(r_name, 'ALL') AS r_name,
        |         COALESCE(n_name, 'ALL') AS n_name,
        |         l_suppkey, rev_cents
        |  FROM sets),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY scope, r_name,
        |           n_name ORDER BY rev_cents DESC, l_suppkey) AS INTEGER)
        |           AS rnk
        |  FROM scoped)
        |SELECT scope, r_name, n_name, rnk, l_suppkey, rev_cents
        |FROM ranked WHERE rnk <= 3
        |ORDER BY scope, r_name, n_name, rnk""".stripMargin,

    "text_embedding_length_corr" -> {
      import graft.functions.VectorFunctions.dotFpDuck
      s"""WITH e AS (
         |  SELECT vec_id,
         |         (${dotFpDuck("embedding", "embedding")}) // 1000000000 AS y
         |  FROM embeddings CROSS JOIN range(1, 2049) t(i)
         |  WHERE t.i <= len(embedding)
         |  GROUP BY vec_id),
         |j AS (
         |  SELECT d.n_chars AS x, e.y
         |  FROM e JOIN documents d ON d.doc_id = e.vec_id),
         |m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |         sum(CAST(x AS HUGEINT)) AS sx,
         |         sum(CAST(y AS HUGEINT)) AS sy,
         |         sum(CAST(x AS HUGEINT) * x) AS sxx,
         |         sum(CAST(y AS HUGEINT) * y) AS syy,
         |         sum(CAST(x AS HUGEINT) * y) AS sxy
         |  FROM j),
         |f AS (
         |  SELECT n_pairs,
         |         n_pairs * sxy - sx * sy AS num,
         |         n_pairs * sxx - sx * sx AS dx,
         |         n_pairs * syy - sy * sy AS dy
         |  FROM m)
         |SELECT n_pairs, $rhoSql AS alignment_corr FROM f""".stripMargin
    },
  )
}
