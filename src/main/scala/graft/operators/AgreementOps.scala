package graft.operators

import graft.{OpGroup, Tables}
import graft.Det.{signedFpDiv, signedFpDivDuck}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Agreement / curve-shape / SLO operators (round-10 widening, fourth
  * session): Cohen's κ between the stored language label and the
  * lang-ID heuristic (chance-corrected agreement — the single number
  * `lang_confusion_matrix` readers actually quote), knee-point
  * detection over the sorted IVF cell-size curve (the Kneedle rule for
  * "how many cells actually matter" — quantizer acceptance), and the
  * SLO error-budget burn table over the event stream (daily burn rate
  * plus cumulative budget consumption — the SRE monitoring view).
  *
  * Determinism & scale design:
  *   - κ is the fully-rational closed form (N·ΣD − Σr·c)/(N² − Σr·c)
  *     over exact integer confusion counts (the same composed
  *     lang_id_ngram projection the confusion matrix audits); one
  *     signed toward-zero fixed-point division.
  *   - The knee search runs on the ≤|cells| aggregated curve: rank via
  *     the two-phase numbering, chord endpoints as single-row
  *     broadcast scalars, per-point integer cross products, first-max
  *     tie rule — geometry in pure int64.
  *   - Burn rates are per-day integer ppm; cumulative consumption is
  *     ONE GlobalRank prefix sum over the calendar-bounded day axis
  *     against the broadcast monthly budget.
  *   - Overflow envelope (burn table): n_errors and cum_errors are
  *     multiplied by 1e12 in int64, so the math is exact while daily
  *     errors stay below ~9.2e6 and period-cumulative errors below
  *     ~9.2e6 (int64 / 1e12). At 100 TB event volume the leaves would
  *     lift to DECIMAL(38,0) first (the SeriesStatOps convention);
  *     Spark's non-ANSI wrap vs DuckDB's raise makes silent envelope
  *     breaches impossible to miss in the oracle gate.
  */
object AgreementOps extends OpGroup {

  private val BudgetPpm = 10000L // 1% error budget

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Paired McNemar test (r12, third session): does the n-gram
    // lang-ID classifier beat the majority-class baseline ON THE SAME
    // DOCUMENTS? κ and accuracy compare marginals; McNemar conditions
    // on the discordant pairs (b = ngram right / baseline wrong,
    // c = the reverse) — the correct paired-classifier significance
    // read (McNemar 1947, continuity-corrected). Scale: the majority
    // label is a |langs|-bounded aggregate broadcast as one row; the
    // 2×2 discordance grid folds map-side in ONE pass over the
    // composed lang_id_ngram projection; the χ² numerator lifts to
    // DECIMAL(38,0)/HUGEINT so (|b−c|−1)² stays exact at any corpus
    // size (b, c ≤ n_docs; the square would exit int64 past ~3e9
    // discordant docs).
    "mcnemar_langid_pair" -> ((s, d) => {
      val pred = TrainingDataOps.queries("lang_id_ngram")(s, d)
        .select("lang_stored", "lang_pred")
      val maj = pred.groupBy("lang_stored").agg(count(lit(1)).as("n_maj"))
        .orderBy(col("n_maj").desc, col("lang_stored"))
        .limit(1)
        .select(col("lang_stored").as("maj_lang"))
      pred.crossJoin(broadcast(maj))
        .withColumn("a", (col("lang_pred") === col("lang_stored")).cast("int"))
        .withColumn("b", (col("lang_stored") === col("maj_lang")).cast("int"))
        .groupBy("maj_lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("a") === 1 && col("b") === 1, 1L).otherwise(0L))
            .as("n_both_right"),
          sum(when(col("a") === 1 && col("b") === 0, 1L).otherwise(0L))
            .as("n_b"),
          sum(when(col("a") === 0 && col("b") === 1, 1L).otherwise(0L))
            .as("n_c"))
        .withColumn("chi2_cc_fp", expr(
          """CASE WHEN n_b + n_c > 0 THEN CAST(
            |  CAST(abs(n_b - n_c) - 1 AS DECIMAL(38,0))
            |  * (abs(n_b - n_c) - 1) * 1000000 DIV (n_b + n_c) AS BIGINT)
            |ELSE 0L END""".stripMargin.replace("\n", " ")))
        .select("maj_lang", "n_docs", "n_both_right", "n_b", "n_c",
          "chi2_cc_fp")
    }),

    // Cohen's κ: chance-corrected stored-vs-predicted language
    // agreement, exact rational over confusion counts.
    "cohens_kappa_langid" -> ((s, d) => {
      val pred = TrainingDataOps.queries("lang_id_ngram")(s, d)
        .select("lang_stored", "lang_pred")
      val cells = pred.groupBy("lang_stored", "lang_pred")
        .agg(count(lit(1)).as("n"))
      val rt = cells.groupBy("lang_stored").agg(sum("n").as("r"))
      val ct = cells.groupBy("lang_pred").agg(sum("n").as("c"))
      val cross = rt.join(ct, col("lang_stored") === col("lang_pred"))
        .agg(coalesce(sum(expr("r * c")), lit(0L)).as("pe_cross"))
      val base = cells.agg(sum("n").as("n_docs"),
        sum(when(col("lang_stored") === col("lang_pred"), col("n"))
          .otherwise(0L)).as("n_agree"))
      base.crossJoin(broadcast(cross))
        .withColumn("kappa_fp", expr(signedFpDiv(
          "n_docs * n_agree - pe_cross",
          "n_docs * n_docs - pe_cross")))
        .select("n_docs", "n_agree", "pe_cross", "kappa_fp")
    }),

    // Kneedle elbow of the sorted-desc IVF cell-size curve: the point
    // farthest (by integer cross product) from the chord between the
    // largest and smallest cell.
    "kneedle_cell_elbow" -> ((s, d) => {
      val cells = s.read.parquet(SemiStructuredOps.ivfLayout(s, d))
        .groupBy(col("cell").cast("int").as("cell"))
        .agg(count(lit(1)).as("sz"))
        .withColumn("nsz", -col("sz"))
      val rn = graft.functions.GlobalRank
        .rowNumber(cells, "rank", Nil, Seq("nsz", "cell"))
        .select("rank", "cell", "sz")
      val k = rn.agg(count(lit(1)).as("k"))
      val withK = rn.crossJoin(broadcast(k))
      val ends = withK.agg(
        sum(when(col("rank") === 1, col("sz"))).as("s1"),
        sum(when(col("rank") === col("k"), col("sz"))).as("sk"))
      val scored = withK.crossJoin(broadcast(ends))
        .withColumn("cross_prod",
          expr("(k - 1) * (sz - s1) - (rank - 1) * (sk - s1)"))
      val mx = scored.agg(max(abs(col("cross_prod"))).as("mx"))
      val elbow = scored.crossJoin(broadcast(mx))
        .filter(abs(col("cross_prod")) === col("mx"))
        .agg(min("rank").as("elbow_rank"))
      scored.crossJoin(broadcast(elbow))
        .select(col("rank"), col("cell"), col("sz"), col("cross_prod"),
          (col("rank") === col("elbow_rank")).as("is_elbow"))
        .orderBy("rank")
    }),

    // SLO burn: daily error rate vs the 1% budget, plus cumulative
    // share of the whole-period allowance consumed.
    "slo_error_budget_burn" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')")
          .as("di"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("n_errors"))
      val tot = daily.agg(sum("n_events").as("tot_events"))
      val cum = graft.functions.GlobalRank
        .prefixSum(daily, "cum_errors", col("n_errors"), Nil, Seq("di"))
      cum.crossJoin(broadcast(tot))
        .withColumn("rate_ppm", expr("n_errors * 1000000 DIV n_events"))
        .withColumn("burn_fp",
          expr(s"n_errors * 1000000 * 1000000 DIV (n_events * $BudgetPpm)"))
        .withColumn("cum_consumed_fp",
          expr(s"cum_errors * 1000000 * 1000000 DIV (tot_events * $BudgetPpm)"))
        .select("di", "n_events", "n_errors", "rate_ppm", "burn_fp",
          "cum_consumed_fp")
        .orderBy("di")
    }),

    // K10 — Lin's concordance correlation coefficient (Lin 1989)
    // between the daily click and purchase volume series: agreement
    // THROUGH THE ORIGIN LINE, not just co-movement — Pearson's r
    // rewards any linear relation, CCC additionally penalizes scale
    // and location shift ((x̄−ȳ)² and the variance mismatch sit in
    // the denominator), so it answers "can purchase volume PROXY
    // click volume 1:1 in downsampled monitoring", the question
    // dashboard substitutions actually ask. PURE integer: with
    // n-denominator moments, ρc = 2(n·Σxy − ΣxΣy) / (n·Σx² − (Σx)²
    // + n·Σy² − (Σy)² + (Σx−Σy)²) — every term folds in
    // DECIMAL(38,0)/HUGEINT from one map-side daily conditional
    // aggregate, and the 1e6 fixed point is one signed toward-zero
    // integer division (no IEEE leaf). Envelope: 1e8 events/day ×
    // 1e4 days keeps n·Σxy·1e6 ≤ 1e30 inside DECIMAL(38,0).
    "lin_ccc_daily" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')")
          .as("di"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
        .agg(count(lit(1)).as("n_days"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("qx"),
          sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("qy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("qxy"))
        .withColumn("num", expr(
          """2 * (CAST(n_days AS DECIMAL(38,0)) * qxy
            | - CAST(sx AS DECIMAL(38,0)) * sy)"""
            .stripMargin.replace("\n", " ")))
        .withColumn("den", expr(
          """(CAST(n_days AS DECIMAL(38,0)) * qx
            |  - CAST(sx AS DECIMAL(38,0)) * sx)
            | + (CAST(n_days AS DECIMAL(38,0)) * qy
            |  - CAST(sy AS DECIMAL(38,0)) * sy)
            | + CAST(sx - sy AS DECIMAL(38,0)) * (sx - sy)"""
            .stripMargin.replace("\n", " ")))
        .filter(col("n_days") >= 2 && expr("den > 0"))
        .select(col("n_days"), col("sx"), col("sy"),
          expr(signedFpDiv("num", "den")).as("ccc_fp"))
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "mcnemar_langid_pair" ->
      s"""WITH pred AS (${TrainingDataOps.oracleSql("lang_id_ngram")}),
         |maj AS (
         |  SELECT lang_stored AS maj_lang FROM pred
         |  GROUP BY 1 ORDER BY count(*) DESC, lang_stored LIMIT 1),
         |fl AS (
         |  SELECT maj_lang,
         |         CASE WHEN lang_pred = lang_stored THEN 1 ELSE 0 END AS a,
         |         CASE WHEN lang_stored = maj_lang THEN 1 ELSE 0 END AS b
         |  FROM pred CROSS JOIN maj),
         |g AS (
         |  SELECT maj_lang, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_both_right,
         |         CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_b,
         |         CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_c
         |  FROM fl GROUP BY 1)
         |SELECT maj_lang, n_docs, n_both_right, n_b, n_c,
         |       CASE WHEN n_b + n_c > 0 THEN CAST(
         |         CAST(abs(n_b - n_c) - 1 AS HUGEINT)
         |         * (abs(n_b - n_c) - 1) * 1000000 // (n_b + n_c) AS BIGINT)
         |       ELSE 0 END AS chi2_cc_fp
         |FROM g""".stripMargin,

    "cohens_kappa_langid" ->
      s"""WITH pred AS (${TrainingDataOps.oracleSql("lang_id_ngram")}),
         |cells AS (
         |  SELECT lang_stored, lang_pred, CAST(count(*) AS BIGINT) AS n
         |  FROM pred GROUP BY 1, 2),
         |rt AS (SELECT lang_stored AS l, CAST(sum(n) AS BIGINT) AS r
         |       FROM cells GROUP BY 1),
         |ct AS (SELECT lang_pred AS l, CAST(sum(n) AS BIGINT) AS c
         |       FROM cells GROUP BY 1),
         |x AS (SELECT CAST(COALESCE(sum(rt.r * ct.c), 0) AS BIGINT)
         |        AS pe_cross
         |      FROM rt JOIN ct ON ct.l = rt.l),
         |b AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
         |             CAST(sum(CASE WHEN lang_stored = lang_pred
         |                  THEN n ELSE 0 END) AS BIGINT) AS n_agree
         |      FROM cells)
         |SELECT b.n_docs, b.n_agree, x.pe_cross,
         |       CAST(${signedFpDivDuck("b.n_docs * b.n_agree - x.pe_cross",
                  "b.n_docs * b.n_docs - x.pe_cross")} AS BIGINT) AS kappa_fp
         |FROM b CROSS JOIN x""".stripMargin,

    "kneedle_cell_elbow" ->
      s"""WITH cells AS (
         |  SELECT CAST(cell AS INTEGER) AS cell, CAST(count(*) AS BIGINT) AS sz
         |  FROM read_parquet('${SemiStructuredOps.ivfLayoutPath}/cell=*/*.parquet',
         |    hive_partitioning=1)
         |  GROUP BY 1),
         |rn AS (
         |  SELECT CAST(row_number() OVER (ORDER BY sz DESC, cell) AS BIGINT)
         |           AS rank, cell, sz
         |  FROM cells),
         |k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM rn),
         |ends AS (
         |  SELECT (SELECT sz FROM rn WHERE rank = 1) AS s1,
         |         (SELECT sz FROM rn JOIN k ON rn.rank = k.k) AS sk),
         |scored AS (
         |  SELECT r.rank, r.cell, r.sz,
         |         (k.k - 1) * (r.sz - e.s1) - (r.rank - 1) * (e.sk - e.s1)
         |           AS cross_prod
         |  FROM rn r CROSS JOIN k CROSS JOIN ends e),
         |mx AS (SELECT max(abs(cross_prod)) AS mx FROM scored),
         |elbow AS (
         |  SELECT min(rank) AS elbow_rank
         |  FROM scored CROSS JOIN mx WHERE abs(cross_prod) = mx.mx)
         |SELECT s.rank, s.cell, s.sz, CAST(s.cross_prod AS BIGINT) AS cross_prod,
         |       s.rank = e.elbow_rank AS is_elbow
         |FROM scored s CROSS JOIN elbow e ORDER BY s.rank""".stripMargin,

    "slo_error_budget_burn" ->
      s"""WITH daily AS (
         |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS di,
         |         CAST(count(*) AS BIGINT) AS n_events,
         |         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_errors
         |  FROM events GROUP BY 1),
         |cum AS (
         |  SELECT *, CAST(sum(n_errors) OVER (ORDER BY di) AS BIGINT)
         |           AS cum_errors
         |  FROM daily),
         |tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS tot_events
         |        FROM daily)
         |SELECT c.di, c.n_events, c.n_errors,
         |       CAST(c.n_errors * 1000000 // c.n_events AS BIGINT) AS rate_ppm,
         |       CAST(c.n_errors * 1000000 * 1000000
         |         // (c.n_events * $BudgetPpm) AS BIGINT) AS burn_fp,
         |       CAST(c.cum_errors * 1000000 * 1000000
         |         // (t.tot_events * $BudgetPpm) AS BIGINT) AS cum_consumed_fp
         |FROM cum c CROSS JOIN tot t ORDER BY c.di""".stripMargin,

    "lin_ccc_daily" ->
      s"""WITH daily AS (
         |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS di,
         |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS y
         |  FROM events GROUP BY 1),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
         |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |        sum(CAST(x AS HUGEINT) * x) AS qx,
         |        sum(CAST(y AS HUGEINT) * y) AS qy,
         |        sum(CAST(x AS HUGEINT) * y) AS qxy
         |      FROM daily),
         |v AS (SELECT n_days, sx, sy,
         |        2 * (CAST(n_days AS HUGEINT) * qxy
         |          - CAST(sx AS HUGEINT) * sy) AS num,
         |        (CAST(n_days AS HUGEINT) * qx - CAST(sx AS HUGEINT) * sx)
         |          + (CAST(n_days AS HUGEINT) * qy
         |            - CAST(sy AS HUGEINT) * sy)
         |          + CAST(sx - sy AS HUGEINT) * (sx - sy) AS den
         |      FROM m)
         |SELECT n_days, sx, sy,
         |       CAST(${signedFpDivDuck("num", "den")} AS BIGINT) AS ccc_fp
         |FROM v WHERE n_days >= 2 AND den > 0""".stripMargin,
  )
}
