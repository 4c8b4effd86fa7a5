package graft.operators

import graft.{OpGroup, Tables}
import graft.Det.{signedFpDiv, signedFpDivDuck}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Curriculum / content-policy curation operators (round-10 widening,
  * fourth session): a curriculum stage plan (docs bucketed into ten
  * difficulty stages by an integer quality proxy — the ordering a
  * curriculum-learning schedule feeds from), blocklist flag rates per
  * source (the content-policy sweep), and vocabulary Gini
  * concentration per source (is a source's token mass dominated by a
  * few terms — the concentration face of `zipf_rank_frequency` /
  * `lexical_diversity_by_source`).
  *
  * Determinism & scale design:
  *   - The quality proxy is the INTEGER mirror of quality_score's
  *     blend (½·unique_ratio + ½·min(1, n/100), both at 1e6) so stage
  *     ranking needs no doubles; stages come from ONE GlobalRank
  *     numbering over the (q_fp, doc_id) total order.
  *   - Blocklist matching is exact-token membership (array_contains
  *     over the split tokens — no regex dialect in play), terms a
  *     broadcast literal list; state is (source × terms)-bounded.
  *   - Gini is the rank formula (2Σr·f − (n+1)S)/(nS) over the vocab
  *     domain, ranks via the grouped two-phase numbering, everything
  *     integer until one signed fixed-point division.
  */
object CurriculumOps extends OpGroup {

  private val Blocklist = Seq("slow", "error", "dup", "stale", "skew")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Ten curriculum stages by ascending quality proxy; per stage the
    // doc count, quality envelope, and token mass the stage feeds.
    "curriculum_stage_plan" -> ((s, d) => {
      val q = Tables.documents(s, d)
        .withColumn("ws", split(col("text"), " "))
        .select(col("doc_id"), col("n_chars"),
          size(col("ws")).cast("long").as("n_tokens"),
          size(array_distinct(col("ws"))).cast("long").as("n_unique"))
        .withColumn("q_fp", expr(
          """(n_unique * 1000000 DIV n_tokens
            | + least(1000000, n_tokens * 10000)) DIV 2"""
            .stripMargin.replace("\n", " ")))
      val tot = q.agg(count(lit(1)).as("n_docs_total"))
      graft.functions.GlobalRank
        .rowNumber(q, "rn", Nil, Seq("q_fp", "doc_id"))
        .crossJoin(broadcast(tot))
        .withColumn("stage", expr("(rn - 1) * 10 DIV n_docs_total"))
        .groupBy("stage")
        .agg(count(lit(1)).as("n_docs"),
          min("q_fp").as("q_min_fp"), max("q_fp").as("q_max_fp"),
          sum("n_chars").as("char_mass"))
        .orderBy("stage")
    }),

    // Content-policy sweep: per (source, term) exact-token hit counts
    // and the per-source any-term flag rate.
    "blocklist_flag_rate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("ws", split(col("text"), " "))
      val terms = Blocklist.map(t =>
        sum(when(array_contains(col("ws"), t), 1L).otherwise(0L))
          .as(s"n_$t"))
      val flagged = sum(when(Blocklist.map(t =>
          array_contains(col("ws"), t)).reduce(_ || _), 1L).otherwise(0L))
        .as("n_flagged")
      val aggs = Seq(flagged) ++ terms
      docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), aggs: _*)
        .withColumn("flag_rate_fp", expr("n_flagged * 1000000 DIV n_docs"))
        .orderBy("source")
    }),

    // Vocabulary Gini per source over the (freq, token) rank order.
    "vocab_gini_by_source" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("f"))
      val ranked = graft.functions.GlobalRank
        .rowNumber(tok, "rn", Seq("source"), Seq("f", "w"))
      ranked.groupBy("source")
        .agg(count(lit(1)).as("n_vocab"), sum("f").as("n_tokens"),
          sum(expr("rn * f")).as("rf"))
        .withColumn("gini_fp", expr(signedFpDiv(
          "2 * rf - (n_vocab + 1) * n_tokens", "n_vocab * n_tokens")))
        .select("source", "n_vocab", "n_tokens", "gini_fp")
        .orderBy("source")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "curriculum_stage_plan" ->
      """WITH q AS (
        |  SELECT doc_id, n_chars,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |           AS n_unique
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, n_chars,
        |         (n_unique * 1000000 // n_tokens
        |          + least(1000000, n_tokens * 10000)) // 2 AS q_fp
        |  FROM q),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_total FROM scored),
        |ranked AS (
        |  SELECT s.*, row_number() OVER (ORDER BY q_fp, doc_id) AS rn,
        |         t.n_docs_total
        |  FROM scored s CROSS JOIN tot t)
        |SELECT (rn - 1) * 10 // n_docs_total AS stage,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(min(q_fp) AS BIGINT) AS q_min_fp,
        |       CAST(max(q_fp) AS BIGINT) AS q_max_fp,
        |       CAST(sum(n_chars) AS BIGINT) AS char_mass
        |FROM ranked GROUP BY 1 ORDER BY stage""".stripMargin,

    "blocklist_flag_rate" -> {
      val termCols = Blocklist.map(t =>
        s"""CAST(sum(CASE WHEN list_contains(ws, '$t') THEN 1 ELSE 0 END)
           |  AS BIGINT) AS n_$t""".stripMargin.replace("\n", " "))
        .mkString(",\n|       ")
      val anyTerm = Blocklist.map(t => s"list_contains(ws, '$t')")
        .mkString(" OR ")
      s"""WITH docs AS (
         |  SELECT source, string_split(text, ' ') AS ws FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN $anyTerm THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_flagged,
         |       $termCols,
         |       CAST(sum(CASE WHEN $anyTerm THEN 1 ELSE 0 END) * 1000000
         |         // count(*) AS BIGINT) AS flag_rate_fp
         |FROM docs GROUP BY source ORDER BY source""".stripMargin
    },

    "vocab_gini_by_source" ->
      s"""WITH tok AS (
         |  SELECT source, w, CAST(count(*) AS BIGINT) AS f
         |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
         |        FROM documents) u
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT source, f,
         |         CAST(row_number() OVER (PARTITION BY source
         |           ORDER BY f, w) AS BIGINT) AS rn
         |  FROM tok),
         |agg AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_vocab,
         |         CAST(sum(f) AS BIGINT) AS n_tokens,
         |         CAST(sum(rn * f) AS BIGINT) AS rf
         |  FROM ranked GROUP BY 1)
         |SELECT source, n_vocab, n_tokens,
         |       CAST(${signedFpDivDuck(
                  "2 * rf - (n_vocab + 1) * n_tokens",
                  "n_vocab * n_tokens")} AS BIGINT) AS gini_fp
         |FROM agg ORDER BY source""".stripMargin,
  )
}
