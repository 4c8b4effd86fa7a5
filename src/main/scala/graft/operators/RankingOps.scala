package graft.operators

import graft.{OpGroup, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranked-retrieval and dataset-mixture operators (round-5 surface
  * widening): the ordering half of a training-data pipeline — which
  * documents answer a query (BM25), which rows make the training mix
  * (weighted resampling), which nodes matter in a behavior graph
  * (PageRank over event transitions).
  *
  * Scale design:
  *   - BM25 never builds a global inverted index: the term filter runs
  *     BEFORE the tf aggregation, so the shuffle carries only
  *     (doc, query-term) pairs — |terms| × matching docs, not the corpus
  *     vocabulary. df/N/avgdl are tiny aggregates broadcast to the
  *     probe side; top-k is TakeOrdered (no global window).
  *   - Per-term score contributions are rounded to fixed-point BIGINT
  *     micro-units and summed as integers — integer addition is
  *     associative, so any partial-aggregation layout at 100 TB (and
  *     DuckDB's single-node sum) produces the identical score.
  *   - Mixture resampling is CONTENT-DERIVED (md5 of the key vs an
  *     exact integer threshold): the same rows are kept on any cluster,
  *     any retry, any engine. The keep predicate is pure int64
  *     arithmetic at fixture scale (documented headroom); per-source
  *     rates come from one tiny aggregate broadcast against the corpus.
  *   - PageRank mass is int64 fixed-point (1e12 units): every division
  *     floors identically in both engines, so an 8-round iterative
  *     computation stays bit-identical cross-engine — no fp drift to
  *     tolerate. One equi-join + per-node sum per round (the
  *     [[graft.functions.GraphOps]] loop shape), lineage truncated per
  *     round; the transition-graph build (the part proportional to the
  *     100 TB event log) is one window + one count aggregation.
  */
object RankingOps extends OpGroup {

  /** Fixed query-term set for the BM25 exhibit (present in the synthetic
    * corpus vocabulary; a real caller passes their own).
    */
  private[operators] val Bm25Terms = Seq("spark", "join", "window", "vector")
  private[operators] val Bm25InList = Bm25Terms.map(t => s"'$t'").mkString("(", ", ", ")")

  /** Okapi BM25 (k1=1.2, b=0.75) with the Lucene non-negative idf
    * `ln(1 + (N-df+0.5)/(df+0.5))`, scaled to 1e-6 fixed-point. The SAME
    * expression text runs in Spark and DuckDB — identical parse tree →
    * identical IEEE evaluation order; all inputs are exact integers so
    * both engines see bit-identical doubles (the tfidf_keywords
    * precedent, SURVEY §5).
    */
  private[operators] val bm25ContribSql =
    """CAST(round(
      |  ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
      |  ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 *
      |    (CAST(dl * n_docs AS DOUBLE) / total_dl))))
      |  * 1000000.0) AS BIGINT)""".stripMargin

  /** SCALE for fixed-point PageRank mass (1.0 == 1e12 units). */
  private val PrScale = 1000000000000L
  private val PrIters = 8

  /** BM25 lexical top-10 candidates (doc_id, score_fp) — the shared
    * first stage of the pure-lexical exhibit and the hybrid rerank.
    * Filter-before-aggregate keeps the shuffle at |terms|×docs; df and
    * corpus stats broadcast; top-k is TakeOrdered.
    */
  private def bm25Top(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val words = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("w"))
    val qw = words.filter(col("w").isin(Bm25Terms: _*))
    val tf = qw.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfT = qw.select("doc_id", "w").distinct()
      .groupBy("w").agg(count(lit(1)).as("df"))
    val dl = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl"))
    val stats = docs
      .select(size(split(col("text"), " ")).cast("long").as("dl0"))
      .agg(count(lit(1)).as("n_docs"), sum("dl0").as("total_dl"))
    val scored = tf.join(dl, "doc_id")
      .join(broadcast(dfT), "w").crossJoin(broadcast(stats))
      .withColumn("contrib_fp", expr(bm25ContribSql))
    scored.groupBy("doc_id")
      .agg(sum("contrib_fp").as("score_fp"))
      .orderBy(col("score_fp").desc, col("doc_id")).limit(10)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // R1 — BM25 top-k retrieval over the documents corpus for a fixed
    // query-term set.
    "bm25_topk" -> ((s, d) =>
      // rank the ≤10 surviving rows (window over the limited set only)
      bm25Top(s, d).withColumn("rank",
          row_number().over(Window.orderBy(col("score_fp").desc, col("doc_id"))))
        .select(col("doc_id"), col("rank"), col("score_fp"))
        .orderBy("rank")),

    // R6 — reciprocal rank fusion (k=60) of the BM25 lexical top-10
    // and the dense exact-dot top-10 against query vec 0 — the
    // UNION-style fusion (vs R4's cascade: here each leg retrieves
    // independently and ranks fuse, so a doc missed by one leg can
    // still win). The dense leg ranks by the EXACT fixed-point dot
    // (codegen FixedPointDot — integer, engine-trivial); RRF
    // contributions 1e9 DIV (60+rank) are pure integer. Both legs are
    // TakeOrdered(10); the fusion join touches ≤20 rows; the ≤10-row
    // windows are the documented benign bm25 class.
    "rrf_rank_fusion" -> ((s, d) => {
      val lex = bm25Top(s, d).withColumn("bm25_rank",
        row_number().over(Window.orderBy(col("score_fp").desc, col("doc_id"))))
      val q = Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      val dense = Tables.embeddings(s, d)
        .crossJoin(broadcast(q))
        .select(col("vec_id").as("doc_id"),
          graft.functions.VectorFunctions
            .fixedDot(col("embedding"), col("q_emb")).as("dot_fp"))
        .orderBy(col("dot_fp").desc, col("doc_id")).limit(10)
        .withColumn("dense_rank",
          row_number().over(Window.orderBy(col("dot_fp").desc, col("doc_id"))))
      lex.select(col("doc_id"), col("bm25_rank"))
        .join(dense.select(col("doc_id"), col("dense_rank")),
          Seq("doc_id"), "full_outer")
        .withColumn("rrf_fp", expr(
          """coalesce(1000000000 DIV (60 + bm25_rank), 0)
            | + coalesce(1000000000 DIV (60 + dense_rank), 0)""".stripMargin))
        .select("doc_id", "bm25_rank", "dense_rank", "rrf_fp")
        .orderBy(col("rrf_fp").desc, col("doc_id"))
    }),

    // R4 — two-stage hybrid retrieval: BM25 lexical recall bounds the
    // candidate set (≤10 docs), then dense embedding cosine reranks the
    // survivors against the query vector (vec 0 stands in for the
    // encoded query). THE standard retrieval architecture at corpus
    // scale — the expensive dense scoring touches only the lexical
    // survivors, never the corpus; both windows run over the ≤10-row
    // post-TakeOrdered set (the documented benign bm25 pattern).
    // Candidates without an embedding drop (inner join) — at sf0.1 the
    // embedding table covers a 2k-doc subset, mirrored in the oracle.
    "hybrid_retrieval_rerank" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          graft.functions.VectorFunctions.norm("embedding").as("norm"))
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"), col("norm").as("q_norm"))
      val reranked = bm25Top(s, d)
        .join(e, col("doc_id") === col("vec_id"))
        .crossJoin(broadcast(q))
        .withColumn("cos",
          graft.functions.VectorFunctions.dot("embedding", "q_emb") /
            (col("norm") * col("q_norm")))
      reranked
        .withColumn("bm25_rank", row_number().over(
          Window.orderBy(col("score_fp").desc, col("doc_id"))))
        .withColumn("hybrid_rank", row_number().over(
          Window.orderBy(col("cos").desc, col("doc_id"))))
        .select(col("doc_id"), col("bm25_rank"), col("hybrid_rank"),
          col("score_fp"), round(col("cos"), 6).as("cosine"))
        .orderBy("hybrid_rank")
    }),

    // R2 — weighted mixture resampling: target share ∝ per-source weight,
    // overall budget 40% of the corpus. keep ⇔ h32·W·c_s < B·w_s·2^32 —
    // exact integer arithmetic (int64 headroom to ~1e9 rows/source; the
    // 100 TB variant lifts the threshold side to DECIMAL(38,0), same
    // predicate). Output is the per-source audit a mixture job reports.
    "mixture_weighted_resample" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "source")
      val counts = docs.groupBy("source").agg(count(lit(1)).as("n_total"))
        .withColumn("weight",
          expr("CAST(substring(source, 4) AS BIGINT) % 4 + 1"))
      val tot = counts.agg(sum("n_total").as("t_rows"), sum("weight").as("w_sum"))
      val dims = broadcast(counts.crossJoin(broadcast(tot)))
      val kept = docs.join(dims, "source")
        .withColumn("h32", expr(
          "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"))
        .filter(expr(
          "h32 * w_sum * n_total < ((t_rows * 2) DIV 5) * weight * 4294967296"))
      kept.groupBy("source").agg(count(lit(1)).as("n_kept"))
        .join(counts, "source")
        .select(col("source"), col("weight"), col("n_total"), col("n_kept"))
        .orderBy("source")
    }),

    // R3 — PageRank over the event-type transition graph. The O(100 TB)
    // part — lag-window sequencing + (prev,next) counting — is one
    // shuffle each; the iterate runs on the aggregated graph (nodes =
    // event vocabulary), one equi-join + sum per round, all int64
    // fixed-point so the result is bit-identical to the DuckDB unrolled
    // replay. Node count is a driver scalar used to seed the uniform
    // prior.
    "pagerank_event_transitions" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val w8 = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val trans = ev.withColumn("prev", lag(col("event_type"), 1).over(w8))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev").as("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("w"))
      // The graph (|V| event types, |E| ≤ |V|²) is collected and iterated
      // driver-side within the size oracle (graft.plans.SizeRoute) — a
      // join loop costs ~20 tiny jobs (1.4-2.2 s for 5 nodes) — and as a
      // distributed equi-join loop beyond it. Both are exact int64 with
      // floored divisions, so they are bit-identical (RankingSpec).
      val nodes = ev.select(col("event_type")).distinct()
      val collected = graft.plans.SizeRoute.collectIfSmall(trans, nodes)

      // Per-edge contribution floor(r·w/ow) is computed DIVIDE-FIRST:
      //   (r DIV ow)·w + ((r MOD ow)·w) DIV ow
      // — exact by the division identity (r = q·ow + m with m < ow,
      // all operands non-negative), and overflow-safe where the naive
      // r·w wraps int64: r reaches PrScale=1e12, so r·w overflows once
      // an edge carries ~9×10⁶ transitions — precisely the large-graph
      // regime the distributed path exists for. Divide-first bounds the
      // intermediates by q·w ≤ r and m·w < ow² (ow > 3×10⁹ transitions
      // out of ONE node before that wraps). All three evaluations —
      // driver loop, distributed expr, DuckDB replay — use the same
      // form, so the recurrence stays bit-identical everywhere.
      if (collected.isDefined) {
        // ONE collect of the counted edges; out-weights fold from it (a
        // second lazy reference would re-run the window pipeline for
        // the self-join's build side).
        val Seq(edgeRows, nodeRows) = collected.get
        val edges = edgeRows
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        val ow = edges.groupBy(_._1).map { case (src, es) => src -> es.map(_._3).sum }
        val eRows = edges.map { case (src, dst, w) => (src, dst, w, ow(src)) }
        val nodeList = nodeRows.map(_.getString(0)).sorted
        val base = PrScale / nodeList.length
        var ranks = nodeList.map(_ -> base).toMap
        for (_ <- 1 to PrIters) {
          val inflow = new scala.collection.mutable.HashMap[String, Long]()
          eRows.foreach { case (src, dst, w, ow) =>
            val r = ranks(src)
            val c = (r / ow) * w + ((r % ow) * w) / ow
            inflow.update(dst, inflow.getOrElse(dst, 0L) + c)
          }
          ranks = nodeList.map(nd =>
            nd -> (15L * base + 85L * inflow.getOrElse(nd, 0L)) / 100L).toMap
        }
        import s.implicits._
        ranks.toSeq.sortBy { case (nd, r) => (-r, nd) }
          .toDF("event_type", "pr_fp")
          .orderBy(col("pr_fp").desc, col("event_type"))
      } else {
        // distributed iterate: all operands non-negative, so DIV (floor)
        // equals the driver path's truncating long division. Superseded
        // round snapshots are released eagerly (Checkpoints) — only the
        // final ranks, still read by the returned plan, is left to the
        // ContextCleaner.
        val base = PrScale / nodes.count()
        val e = trans
          .join(trans.groupBy("src").agg(sum("w").as("ow")), "src")
          .select("src", "dst", "w", "ow").localCheckpoint()
        var ranks = nodes.select(col("event_type").as("node"))
          .withColumn("r", lit(base)).localCheckpoint()
        for (_ <- 1 to PrIters) {
          val inflow = e.join(ranks, col("src") === col("node"))
            .select(col("dst"),
              expr("CAST((r DIV ow) * w + ((r % ow) * w) DIV ow AS BIGINT)")
                .as("c"))
            .groupBy("dst").agg(sum("c").as("inflow"))
          val next = nodes.select(col("event_type").as("node"))
            .join(inflow, col("node") === col("dst"), "left")
            .select(col("node"),
              expr(s"CAST((15 * $base + 85 * coalesce(inflow, 0L)) DIV 100 AS BIGINT)")
                .as("r"))
            .localCheckpoint()
          graft.functions.Checkpoints.release(ranks)
          ranks = next
        }
        graft.functions.Checkpoints.release(e)
        ranks.select(col("node").as("event_type"), col("r").as("pr_fp"))
          .orderBy(col("pr_fp").desc, col("event_type"))
      }
    }),
  )

  /** DuckDB PageRank replay: the same int64 fixed-point recurrence,
    * unrolled to [[PrIters]] chained CTE stages (aggregation per round
    * rules out a recursive CTE — Postgres-family engines forbid
    * aggregates in the recursive term). Every stage casts back to
    * BIGINT so DuckDB's HUGEINT sum cannot change the arithmetic.
    */
  private def pagerankDuck: String = {
    val baseExpr = s"($PrScale // (SELECT n FROM nn))"
    val stages = (1 to PrIters).map { i =>
      s"""pr$i AS (
         |  SELECT n.node,
         |    CAST((15 * $baseExpr + 85 * COALESCE(i$i.inflow, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT dst AS node,
         |           CAST(sum((r // ow) * w + ((r % ow) * w) // ow) AS BIGINT) AS inflow
         |    FROM e JOIN pr${i - 1} p ON p.node = e.src GROUP BY dst) i$i
         |  USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH seq AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
       |  FROM events),
       |edges AS (
       |  SELECT prev AS src, event_type AS dst, count(*) AS w
       |  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
       |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM edges GROUP BY src),
       |e AS (SELECT src, dst, w, ow FROM edges JOIN outw USING (src)),
       |nodes AS (SELECT DISTINCT event_type AS node FROM events),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |pr0 AS (SELECT node, $baseExpr AS r FROM nodes),
       |$stages
       |SELECT node AS event_type, r AS pr_fp FROM pr$PrIters
       |ORDER BY pr_fp DESC, event_type""".stripMargin
  }

  /** Shared DuckDB CTE chain ending in `top(doc_id, score_fp)` — the
    * BM25 candidate stage, mirrored from [[bm25Top]]. Reused by the
    * lexical exhibit and the hybrid-rerank oracle.
    */
  private def bm25CtesDuck: String =
    s"""words AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |qw AS (SELECT doc_id, w FROM words WHERE w IN $Bm25InList),
       |tf AS (SELECT doc_id, w, count(*) AS tf FROM qw GROUP BY 1, 2),
       |df AS (SELECT w, count(*) AS df FROM
       |         (SELECT DISTINCT doc_id, w FROM qw) GROUP BY w),
       |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |       FROM documents),
       |stats AS (SELECT count(*) AS n_docs,
       |                 sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS total_dl
       |          FROM documents),
       |scored AS (
       |  SELECT doc_id, $bm25ContribSql AS contrib_fp
       |  FROM tf JOIN dl USING (doc_id) JOIN df USING (w) CROSS JOIN stats),
       |agg AS (SELECT doc_id, CAST(sum(contrib_fp) AS BIGINT) AS score_fp
       |        FROM scored GROUP BY doc_id),
       |top AS (SELECT doc_id, score_fp FROM agg
       |        ORDER BY score_fp DESC, doc_id LIMIT 10)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "rrf_rank_fusion" ->
      s"""WITH $bm25CtesDuck,
         |lex AS (
         |  SELECT doc_id,
         |         CAST(row_number() OVER (ORDER BY score_fp DESC, doc_id)
         |           AS INT) AS bm25_rank
         |  FROM top),
         |qv AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
         |dots AS (
         |  SELECT e.vec_id AS doc_id,
         |         ${graft.functions.VectorFunctions.dotFpDuck("e.embedding", "q.q_emb")} AS dot_fp
         |  FROM embeddings e CROSS JOIN qv q
         |  CROSS JOIN range(1, 4097) t(i)
         |  WHERE t.i <= least(len(e.embedding), len(q.q_emb))
         |  GROUP BY e.vec_id),
         |dtop AS (SELECT doc_id, dot_fp FROM dots
         |         ORDER BY dot_fp DESC, doc_id LIMIT 10),
         |dense AS (
         |  SELECT doc_id,
         |         CAST(row_number() OVER (ORDER BY dot_fp DESC, doc_id)
         |           AS INT) AS dense_rank
         |  FROM dtop)
         |SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
         |       lex.bm25_rank, dense.dense_rank,
         |       CAST(coalesce(1000000000 // (60 + lex.bm25_rank), 0)
         |         + coalesce(1000000000 // (60 + dense.dense_rank), 0)
         |         AS BIGINT) AS rrf_fp
         |FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
         |ORDER BY rrf_fp DESC, doc_id""".stripMargin,

    "bm25_topk" ->
      s"""WITH $bm25CtesDuck
         |SELECT doc_id,
         |  CAST(row_number() OVER (ORDER BY score_fp DESC, doc_id) AS INT) AS rank,
         |  score_fp
         |FROM top ORDER BY rank""".stripMargin,

    "hybrid_retrieval_rerank" -> {
      import graft.functions.VectorFunctions.dotFpDuck
      s"""WITH $bm25CtesDuck,
         |e AS (SELECT vec_id, embedding FROM embeddings),
         |norms AS (
         |  SELECT e.vec_id,
         |         sqrt(CAST(${dotFpDuck("e.embedding", "e.embedding")} AS DOUBLE) / 1e15) AS norm
         |  FROM e CROSS JOIN range(1, 2049) t(i)
         |  WHERE t.i <= len(e.embedding)
         |  GROUP BY e.vec_id),
         |qv AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
         |qn AS (SELECT norm AS q_norm FROM norms WHERE vec_id = 0),
         |dots AS (
         |  SELECT c.doc_id,
         |         ${dotFpDuck("e.embedding", "q.q_emb")} AS dot
         |  FROM top c JOIN e ON e.vec_id = c.doc_id CROSS JOIN qv q
         |  CROSS JOIN range(1, 2049) t(i)
         |  WHERE t.i <= least(len(e.embedding), len(q.q_emb))
         |  GROUP BY c.doc_id),
         |reranked AS (
         |  SELECT c.doc_id, c.score_fp,
         |         (CAST(d.dot AS DOUBLE) / 1e15) / (n.norm * qn.q_norm) AS cos
         |  FROM top c JOIN dots d USING (doc_id)
         |       JOIN norms n ON n.vec_id = c.doc_id
         |       CROSS JOIN qn)
         |SELECT doc_id,
         |  CAST(row_number() OVER (ORDER BY score_fp DESC, doc_id) AS INT) AS bm25_rank,
         |  CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INT) AS hybrid_rank,
         |  score_fp, round(cos, 6) AS cosine
         |FROM reranked ORDER BY hybrid_rank""".stripMargin
    },

    "mixture_weighted_resample" ->
      """WITH docs AS (SELECT doc_id, source FROM documents),
        |counts AS (
        |  SELECT source, count(*) AS n_total,
        |    CAST(substr(source, 4) AS BIGINT) % 4 + 1 AS weight
        |  FROM docs GROUP BY source),
        |tot AS (SELECT CAST(sum(n_total) AS BIGINT) AS t_rows,
        |               CAST(sum(weight) AS BIGINT) AS w_sum FROM counts),
        |kept AS (
        |  SELECT d.doc_id, d.source
        |  FROM docs d JOIN counts c USING (source) CROSS JOIN tot
        |  WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |        * w_sum * n_total < ((t_rows * 2) // 5) * weight * 4294967296)
        |SELECT c.source, c.weight, c.n_total, count(*) AS n_kept
        |FROM kept k JOIN counts c USING (source)
        |GROUP BY c.source, c.weight, c.n_total
        |ORDER BY c.source""".stripMargin,

    "pagerank_event_transitions" -> pagerankDuck,
  )
}
