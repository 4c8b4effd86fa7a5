package graft.operators

import graft.{OpGroup, Tables}
import graft.Det.{signedFpDiv, signedFpDivDuck}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Rank-based / nonparametric statistics (round-10 widening, fourth
  * session): the distribution-free siblings of the StatOps/InfoStatOps
  * monitors — Spearman rank correlation, the Mann–Whitney U test (with
  * its AUC effect size), Kendall's τ over the monthly revenue series,
  * and Cramér's V association strength. These are the comparisons a
  * data-quality dashboard runs when the underlying measures are skewed
  * or ordinal and Pearson/χ² raw values mislead (the reference stages
  * its analytics tables for exactly this class of SQL reporting,
  * `/root/reference/README.md:180-205`).
  *
  * Determinism & scale design (the established leaf-fixed-point rules):
  *   - Ranks are TIE-AVERAGED and kept integer by doubling: for a value
  *     v in group g, r2 = 2·rank_min + cnt(v) − 1 = twice the average
  *     rank — an exact int64. On the Spark side r2 derives from the
  *     VALUE-DOMAIN prefix sum ([[graft.functions.GlobalRank.prefixSum]]
  *     over per-(group, value) counts — two-phase beyond the size
  *     threshold, never an unsplittable whole-partition window), then
  *     equi-joins back onto the fact rows; the ×2 scaling cancels in
  *     every correlation ratio.
  *   - All moment sums are DECIMAL(38,0) (order-free exact addition at
  *     any partitioning); HUGEINT on the DuckDB side. The only floating
  *     ops are TERMINAL single IEEE expressions over those exact
  *     integers (one divide + sqrt per output row), identical parse
  *     trees on both engines, rounded to 6dp.
  *   - Envelopes (documented, spec-pinned): Spearman moment products
  *     n·Σr² stay inside DECIMAL(38,0) up to ~1e8 rows per group;
  *     Mann–Whitney's 2·U ≤ 2·n1·n2 stays in int64 to ~2e9 rows per
  *     side; Kendall pairs are CALENDAR-bounded (C(months,2), the
  *     Theil–Sen argument); Cramér's grid is enum²-bounded.
  *   - Signed fixed-point division truncates TOWARD ZERO explicitly on
  *     both engines (CASE on sign) — Spark `DIV` and DuckDB `//` are
  *     not assumed to share semantics on negatives.
  */
object RankStatOps extends OpGroup {

  /** Terminal Pearson-on-exact-integers ratio, NULL-guarded against a
    * degenerate (constant) variable — identical text both engines.
    */
  private def rhoSql(num: String, dx: String, dy: String): String =
    s"""CASE WHEN $dx = 0 OR $dy = 0 THEN NULL
       |ELSE round(CAST($num AS DOUBLE)
       |  / (sqrt(CAST($dx AS DOUBLE)) * sqrt(CAST($dy AS DOUBLE))), 6)
       |END""".stripMargin.replace("\n", " ")

  /** Month×priority revenue cells over COMPLETE blocks (all 5
    * priorities present), with within-block doubled tie-averaged
    * ranks from the block-keyed 25-pair self-join, plus the 1-row
    * dropped-block count — shared by friedman_test_priority and
    * page_trend_test.
    */
  private def monthPriorityRanked(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val cells = Tables.orders(s, d).groupBy(
        expr("year(o_orderdate) * 12 + month(o_orderdate)").as("blk"),
        expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").as("sc"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("v"))
    val blocks = cells.groupBy("blk").agg(count(lit(1)).as("k_present"))
    val nDrop = blocks.agg(
      sum(when(col("k_present") < 5, 1L).otherwise(0L)).as("n_dropped"))
    val kept = cells.join(
      blocks.filter(col("k_present") === 5).select("blk"), "blk")
    val other = kept.select(col("blk"), col("v").as("ov"))
    val ranked = kept.join(other, "blk")
      .groupBy("blk", "sc", "v")
      .agg((sum(when(col("ov") < col("v"), 2L)
        .when(col("ov") === col("v"), 1L).otherwise(0L)) + 1).as("r2"))
    (ranked, nDrop)
  }

  /** Ansari–Bradley z over exact (ab2, n_x, n_y, n_tot): classical
    * no-tie null moments with the even/odd-N split — ONE IEEE
    * expression, identical text both engines.
    */
  private val abZSql: String =
    """round((CAST(ab2 AS DOUBLE) / 2.0
      |  - CASE WHEN n_tot % 2 = 0
      |      THEN CAST(n_x AS DOUBLE) * (n_tot + 2) / 4.0
      |      ELSE CAST(n_x AS DOUBLE) * (n_tot + 1) * (n_tot + 1)
      |        / (4.0 * n_tot) END)
      |  / sqrt(CASE WHEN n_tot % 2 = 0
      |      THEN CAST(n_x AS DOUBLE) * n_y * (n_tot + 2) * (n_tot - 2)
      |        / (48.0 * (n_tot - 1))
      |      ELSE CAST(n_x AS DOUBLE) * n_y * (n_tot + 1)
      |        * (3.0 + CAST(n_tot AS DOUBLE) * n_tot)
      |        / (48.0 * n_tot * n_tot) END), 6)"""
      .stripMargin.replace("\n", " ")

  /** The shared Friedman/Page block-rank CTE prefix (DuckDB). */
  private val monthRankedCte =
    """WITH cells AS MATERIALIZED (
      |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS blk,
      |         CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS sc,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
      |           AS BIGINT) AS v
      |  FROM orders GROUP BY 1, 2),
      |blocks AS (SELECT blk, count(*) AS k_present
      |           FROM cells GROUP BY 1),
      |nd AS (SELECT CAST(count(*) FILTER (WHERE k_present < 5)
      |         AS BIGINT) AS n_dropped FROM blocks),
      |kept AS MATERIALIZED (
      |  SELECT c.* FROM cells c
      |  JOIN blocks b ON b.blk = c.blk AND b.k_present = 5),
      |ranked AS (
      |  SELECT k.blk, k.sc,
      |         CAST(sum(CASE WHEN o.v < k.v THEN 2
      |                       WHEN o.v = k.v THEN 1 ELSE 0 END) + 1
      |           AS BIGINT) AS r2
      |  FROM kept k JOIN kept o ON o.blk = k.blk
      |  GROUP BY k.blk, k.sc, k.v)""".stripMargin

  /** Per-cell χ² contribution (O−E)²/E in 1e-6 fixed point (the
    * InfoStatOps chi2 leaf, re-spelled here over the margins' names).
    */
  private val chi2TermSql =
    """CAST(FLOOR((CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * ct / n_tot)
      | * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * ct / n_tot)
      | / (CAST(rt AS DOUBLE) * ct / n_tot) * 1000000.0) AS BIGINT)"""
      .stripMargin.replace("\n", " ")

  /** Yuen t as ONE terminal IEEE expression over the exact moment set
    * (ts/h trimmed means; (n·wss − ws²)/(n·h·(h−1)) the Yuen variance
    * terms d_j = (n−1)s²_w/(h(h−1)) with s²_w the winsorized sample
    * variance — the (n−1) cancels into the shown form). Identical
    * text both engines; NULL-guarded on degenerate trim (h ≤ 1).
    */
  private val yuenTSql =
    """CASE WHEN h1 > 1 AND h2 > 1 THEN
      | round((CAST(ts1 AS DOUBLE) / h1 - CAST(ts2 AS DOUBLE) / h2)
      |  / sqrt((CAST(n1 AS DOUBLE) * CAST(wss1 AS DOUBLE)
      |          - CAST(ws1 AS DOUBLE) * CAST(ws1 AS DOUBLE))
      |         / (CAST(n1 AS DOUBLE) * h1 * (h1 - 1.0))
      |       + (CAST(n2 AS DOUBLE) * CAST(wss2 AS DOUBLE)
      |          - CAST(ws2 AS DOUBLE) * CAST(ws2 AS DOUBLE))
      |         / (CAST(n2 AS DOUBLE) * h2 * (h2 - 1.0))), 6)
      |ELSE CAST(NULL AS DOUBLE) END""".stripMargin.replace("\n", " ")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Spearman ρ between quantity and extended price per returnflag:
    // monotone-association strength robust to the price scale. Ranks
    // from the value domain (50 distinct quantities; prices dense —
    // the prefix sum is two-phase sliced beyond 4M distinct); doubled
    // tie-averaged ranks r2 = 2·cum − cnt + 1; five DECIMAL(38,0)
    // moment sums; one terminal IEEE ratio per group.
    //
    // r19 restructure (guide §2.3/§2.4): the old shape joined BOTH
    // rank maps back to the row stream (a 600k-row broadcast and a
    // third full-width corpus pass, ~4 lineitem executions per run).
    // Every moment is computable from the VALUE-DOMAIN support alone:
    // the y support carries, per (group, y) cell, the row count AND
    // the x-rank mass of its rows (Σrx2, Σrx2²) — so after two corpus
    // passes (x counts; y fold with the 150-row x map broadcast) the
    // moments fold over the pinned support with no row join at all.
    // Identical algebra: Σ_rows f(rx2, ry2) = Σ_cells where ry2 is
    // cell-constant; decimal addition re-associates exactly.
    "spearman_rank_corr" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(
        col("l_returnflag"),
        expr("CAST(round(l_quantity * 100) AS BIGINT)").as("x"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("y"))
      val dec = DecimalType(38, 0)
      val xc = graft.functions.Checkpoints.pin(
        li.groupBy("l_returnflag", "x").agg(count(lit(1)).as("cx")))
      val xmap = graft.functions.GlobalRank
        .prefixSum(xc, "__cum", col("cx"), Seq("l_returnflag"), Seq("x"))
        .select(col("l_returnflag"), col("x"),
          (lit(2) * col("__cum") - col("cx") + 1).as("rx2"))
      val ysup = graft.functions.Checkpoints.pin(
        li.join(broadcast(xmap), Seq("l_returnflag", "x"))
          .groupBy("l_returnflag", "y")
          .agg(count(lit(1)).as("cy"),
            sum(col("rx2").cast(dec)).as("sxr"),
            sum((col("rx2") * col("rx2")).cast(dec)).as("sxxr")))
      val ycum = graft.functions.GlobalRank
        .prefixSum(ysup, "__cum", col("cy"), Seq("l_returnflag"), Seq("y"))
        .withColumn("ry2", lit(2) * col("__cum") - col("cy") + 1)
      ycum.groupBy("l_returnflag").agg(
          sum("cy").as("n_rows"),
          sum("sxr").as("sx"),
          sum((col("cy").cast(dec) * col("ry2")).cast(dec)).as("sy"),
          sum("sxxr").as("sxx"),
          sum((col("cy").cast(dec) * col("ry2") * col("ry2")).cast(dec))
            .as("syy"),
          sum((col("sxr") * col("ry2")).cast(dec)).as("sxy"))
        .withColumn("num",
          col("n_rows").cast(dec) * col("sxy") - col("sx") * col("sy"))
        .withColumn("dx",
          col("n_rows").cast(dec) * col("sxx") - col("sx") * col("sx"))
        .withColumn("dy",
          col("n_rows").cast(dec) * col("syy") - col("sy") * col("sy"))
        .withColumn("rho_spearman", expr(rhoSql("num", "dx", "dy")))
        .select("l_returnflag", "n_rows", "rho_spearman")
        .orderBy("l_returnflag")
    }),

    // Mann–Whitney U comparing click vs purchase `value` distributions
    // — the distribution-free A/B location test. Works ENTIRELY in the
    // quantized value domain (the KS support-bounded recipe): per-value
    // counts, one inclusive prefix sum of the purchase CDF, then
    // 2·U_click = Σ_v c1(v)·(2·cumB(<v) + c2(v)) — all int64. The AUC
    // effect size U/(n1·n2) is the only division, fixed-pointed.
    "mann_whitney_u_value" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type"),
          expr("CAST(round(value * 1000) AS BIGINT)").as("v_fp"))
      val sup = ev.groupBy("v_fp").agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c1"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c2"))
      val cum = graft.functions.GlobalRank
        .prefixSum(sup, "cum2", col("c2"), Nil, Seq("v_fp"))
      cum.agg(
          sum("c1").as("n1"), sum("c2").as("n2"),
          sum(expr("c1 * (2 * cum2 - c2)")).as("u2_click"))
        .withColumn("u2_purchase",
          expr("2 * n1 * n2 - u2_click"))
        .withColumn("auc_fp",
          expr("u2_click * 1000000 DIV (2 * n1 * n2)"))
        .select("n1", "n2", "u2_click", "u2_purchase", "auc_fp")
    }),

    // Kendall τ_a between monthly order count and monthly revenue:
    // does more orders mean more revenue, rank-wise, month over month.
    // The monthly series is CALENDAR-bounded, so pair generation is the
    // Theil–Sen array expansion (C(months,2) pairs from one sorted
    // collect_list — never a self-join); concordant/discordant/tie
    // counts are exact integers; τ_a = (C−D)/n_pairs fixed-pointed with
    // explicit toward-zero truncation (it can be negative).
    "kendall_tau_monthly" -> ((s, d) => {
      val monthly = Tables.orders(s, d)
        .groupBy(expr("year(o_orderdate) * 12 + month(o_orderdate)").as("mi"))
        .agg(count(lit(1)).as("n_ord"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("rev"))
      val pairs = monthly
        .agg(sort_array(collect_list(struct(col("mi"), col("n_ord"),
          col("rev")))).as("a"))
        // <2 months ⇒ no pairs; guard the descending-sequence edge
        // (sequence(0, -1) emits junk) the same way acfTerms does
        .filter(size(col("a")) >= 2)
        .select(size(col("a")).cast("long").as("n_months"),
          explode(expr(
            """flatten(transform(sequence(0, size(a) - 2), i ->
              |  transform(sequence(i + 1, size(a) - 1), j ->
              |    named_struct('dx', sign(a[j].n_ord - a[i].n_ord),
              |                 'dy', sign(CAST(a[j].rev - a[i].rev AS DOUBLE)))
              |  )))""".stripMargin.replace("\n", " "))).as("p"))
      pairs.groupBy("n_months").agg(
          count(lit(1)).as("n_pairs"),
          sum(when(expr("p.dx * p.dy > 0"), 1L).otherwise(0L)).as("concordant"),
          sum(when(expr("p.dx * p.dy < 0"), 1L).otherwise(0L)).as("discordant"),
          sum(when(expr("p.dx = 0 AND p.dy <> 0"), 1L).otherwise(0L)).as("ties_x"),
          sum(when(expr("p.dy = 0 AND p.dx <> 0"), 1L).otherwise(0L)).as("ties_y"),
          sum(when(expr("p.dx = 0 AND p.dy = 0"), 1L).otherwise(0L)).as("ties_both"))
        .withColumn("tau_a_fp",
          expr(signedFpDiv("concordant - discordant", "n_pairs")))
        .select("n_months", "n_pairs", "concordant", "discordant",
          "ties_x", "ties_y", "ties_both", "tau_a_fp")
    }),

    // Cramér's V over the o_orderpriority × o_orderstatus contingency:
    // the [0,1]-normalized association strength a χ² raw value hides.
    // Full margin cross-product grid (zero cells contribute their E —
    // the chi2_event_weekday discipline), enum²-bounded; χ² leaves
    // FLOOR-fixed-pointed then integer-summed; V is one terminal sqrt
    // over exact integers.
    "cramers_v_priority_status" -> ((s, d) => {
      val c = Tables.orders(s, d)
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("o"))
      val rt = c.groupBy("o_orderpriority").agg(sum("o").as("rt"))
      val ct = c.groupBy("o_orderstatus").agg(sum("o").as("ct"))
      val n = c.agg(sum("o").as("n_tot"),
        countDistinct("o_orderpriority").as("n_rows_dim"),
        countDistinct("o_orderstatus").as("n_cols_dim"))
      broadcast(rt).crossJoin(broadcast(ct))
        .join(c, Seq("o_orderpriority", "o_orderstatus"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .crossJoin(broadcast(n))
        .withColumn("term_fp", expr(chi2TermSql))
        .groupBy("n_tot", "n_rows_dim", "n_cols_dim").agg(
          count(lit(1)).as("n_cells"),
          sum("term_fp").as("chi2_fp"))
        .withColumn("dof",
          expr("(n_rows_dim - 1) * (n_cols_dim - 1)"))
        .withColumn("cramers_v", expr(
          """round(sqrt(CAST(chi2_fp AS DOUBLE) / 1000000.0
            | / (n_tot * least(n_rows_dim - 1, n_cols_dim - 1))), 6)"""
            .stripMargin.replace("\n", " ")))
        .select("n_tot", "n_cells", "dof", "chi2_fp", "cramers_v")
    }),

    // Cochran–Armitage trend test (r12, third session): is the 'F'
    // (finished) rate MONOTONE in the ordered priority score s = the
    // leading digit of o_orderpriority (1-URGENT … 5-LOW)? χ²
    // association (cramers_v above) ignores the ordering; Armitage's
    // z² = N·(N·Σs·k − K·Σs·n)² / (K·(N−K)·(N·Σs²·n − (Σs·n)²))
    // weights deviations by the score and so detects the dose-response
    // trend an ordered factor implies (Armitage 1955). Scale: five
    // moment sums fold map-side into ONE 1-row aggregate; the z²
    // rational lifts to DECIMAL(38,0)/HUGEINT (numerator =
    // nn·(nn·ssk − kk·ssn)² stays inside 38 digits while orders
    // < ~1.4e9; past that the inner term would be ratio-reduced
    // first — Spark's non-ANSI decimal overflow nulls vs DuckDB's
    // raise make a silent breach impossible). Both numerator and
    // denominator are ≥ 0 (the denominator by Cauchy–Schwarz), so
    // truncating DIV and flooring // agree without a sign CASE.
    "armitage_trend_priority" -> ((s, d) => {
      val g = Tables.orders(s, d)
        .groupBy(expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)")
          .as("sc"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("k"))
      val z = g.agg(sum("n").as("nn"), sum("k").as("kk"),
          sum(expr("sc * n")).as("ssn"), sum(expr("sc * k")).as("ssk"),
          sum(expr("sc * sc * n")).as("ss2n"))
        .withColumn("tnum", expr(
          "CAST(nn AS DECIMAL(38,0)) * ssk - CAST(kk AS DECIMAL(38,0)) * ssn"))
        .withColumn("tden", expr(
          "CAST(nn AS DECIMAL(38,0)) * ss2n - CAST(ssn AS DECIMAL(38,0)) * ssn"))
        .select(expr(
          """CASE WHEN kk > 0 AND kk < nn AND tden > 0 THEN CAST(
            |  CAST(nn AS DECIMAL(38,0)) * tnum * tnum * 1000000
            |  DIV (CAST(kk AS DECIMAL(38,0)) * (nn - kk) * tden) AS BIGINT)
            |ELSE CAST(NULL AS BIGINT) END""".stripMargin.replace("\n", " "))
          .as("z2_fp"))
      g.withColumn("rate_fp", expr("k * 1000000 DIV n"))
        .crossJoin(broadcast(z))
        .select("sc", "n", "k", "rate_fp", "z2_fp")
        .orderBy("sc")
    }),

    // Kruskal–Wallis rank ANOVA (r12, third session): does the
    // o_totalprice DISTRIBUTION differ across the 5 priority groups?
    // The k-group generalization of mann_whitney (Kruskal & Wallis
    // 1952), with the tie-corrected H. Ranks are the doubled
    // tie-averaged GLOBAL ranks (r2 = 2·cum − cnt + 1 over the value
    // domain via the two-phase prefix sum — never a partition-less
    // window); per-group rank sums and the tie spectrum Σ(t³−t) fold
    // map-side. H folds deterministically: per-group leaves
    // L_g = R2_g² DIV (4·n_g) truncate UNSCALED in DECIMAL(38,0)/
    // HUGEINT (the ·1e6 lift happens after the |groups|-bounded sum,
    // where decimal headroom is unbounded — lifting per-leaf would
    // push the truncated quotient itself past int64 at sf0.1), then
    // H_fp = 12·Σ(L)·1e6 DIV (N(N+1)) − 3(N+1)·1e6. The ≤1-unit
    // per-leaf truncation shifts H by < 12·|groups|·1e6/(N(N+1)) —
    // under one fp unit for N > 250 — and is bit-identical on both
    // engines. Truncation can still leave H_fp a few units below 0 at
    // H≈0 (the cramers_v floor slack); the tie-corrected H/C division
    // is therefore SIGNED toward-zero on both engines.
    "kruskal_wallis_priority" -> ((s, d) => {
      val v = Tables.orders(s, d).select(
        expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").as("sc"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("x"))
      val sup = v.groupBy("x").agg(count(lit(1)).as("c"))
      val rm = graft.functions.GlobalRank
        .prefixSum(sup, "cum", col("c"), Nil, Seq("x"))
        .select(col("x"), (lit(2) * col("cum") - col("c") + 1).as("r2"))
      val g = v.groupBy("sc", "x").agg(count(lit(1)).as("cg"))
        .join(rm, "x")
        .groupBy("sc").agg(sum("cg").as("n_g"),
          sum(expr("cg * r2")).as("r2_sum"))
        .withColumn("leaf", expr(
          "CAST(r2_sum AS DECIMAL(38,0)) * r2_sum DIV (4 * n_g)"))
      val ties = sup.agg(sum(expr("c * c * c - c")).as("tie3"))
      val h = g.agg(sum("n_g").as("n_tot"),
          sum(col("leaf").cast("decimal(38,0)")).as("sl"))
        .crossJoin(broadcast(ties))
        .withColumn("h_fp", expr(
          """CAST(12 * sl * 1000000
            | DIV (CAST(n_tot AS DECIMAL(38,0)) * (n_tot + 1))
            | - 3 * (n_tot + 1) * 1000000 AS BIGINT)"""
            .stripMargin.replace("\n", " ")))
        .withColumn("c_fp", expr(
          """CAST(1000000 - CAST(tie3 AS DECIMAL(38,0)) * 1000000
            | DIV (CAST(n_tot AS DECIMAL(38,0)) * n_tot * n_tot - n_tot)
            | AS BIGINT)""".stripMargin.replace("\n", " ")))
        .withColumn("h_corr_fp", expr(
          s"""CASE WHEN c_fp > 0
             | THEN ${signedFpDiv("h_fp", "c_fp")}
             |ELSE CAST(NULL AS BIGINT) END"""
            .stripMargin.replace("\n", " ")))
        .select("n_tot", "tie3", "h_fp", "c_fp", "h_corr_fp")
      g.select("sc", "n_g", "r2_sum")
        .crossJoin(broadcast(h))
        .orderBy("sc")
    }),

    // Yuen's trimmed-mean t test (r12, third session; Yuen 1974):
    // Welch's comparison made outlier-robust — 20% of each tail is
    // TRIMMED from both samples (click vs purchase event values), the
    // means compare on the middle 60%, and the variance uses the
    // WINSORIZED sample (tails clamped to the rank-defined trim
    // boundaries). welch_t_value answers "do the means differ";
    // Yuen answers it when heavy tails would drown the signal.
    // Scale: all from the per-group value-domain support — trim
    // boundaries are RANK-DEFINED picks (⌊0.2n⌋+1 and n−⌊0.2n⌋ via
    // the two-phase per-group prefix sum, both engines pick identical
    // values); kept/winsorized masses fold per support value with
    // clamp arithmetic (partial boundary multiplicities handled
    // exactly); winsorized squares lift to DECIMAL(38,0)/HUGEINT; t
    // is ONE terminal IEEE expression over the exact moment set.
    "yuen_trimmed_t" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type").as("g"),
          expr("CAST(round(value * 1000) AS BIGINT)").as("v"))
      val sup = ev.groupBy("g", "v").agg(count(lit(1)).as("c"))
      val cum = graft.functions.GlobalRank
        .prefixSum(sup, "cum", col("c"), Seq("g"), Seq("v"))
      val ns = ev.groupBy("g").agg(count(lit(1)).as("n"))
        .withColumn("g20", expr("n DIV 5"))
      val lo = cum.join(broadcast(ns), "g")
        .filter(col("cum") >= col("g20") + 1)
        .groupBy("g").agg(min("v").as("vlo"))
      val hi = cum.join(broadcast(ns), "g")
        .filter(col("cum") >= col("n") - col("g20"))
        .groupBy("g").agg(min("v").as("vhi"))
      val kept = cum.join(broadcast(ns), "g")
        .withColumn("kb", expr("greatest(0L, least(c, g20 - (cum - c)))"))
        .withColumn("ka", expr("greatest(0L, least(c, cum - (n - g20)))"))
        .withColumn("k", expr("c - kb - ka"))
        .groupBy("g").agg(sum(expr("k * v")).as("ts"),
          sum(expr("CAST(k AS DECIMAL(38,0)) * v * v")).as("tss"))
      val grp = kept.join(lo, "g").join(hi, "g").join(broadcast(ns), "g")
        .withColumn("h", expr("n - 2 * g20"))
        .withColumn("ws", expr("ts + g20 * (vlo + vhi)"))
        .withColumn("wss", expr(
          """tss + CAST(g20 AS DECIMAL(38,0))
            | * (CAST(vlo AS DECIMAL(38,0)) * vlo
            |    + CAST(vhi AS DECIMAL(38,0)) * vhi)"""
            .stripMargin.replace("\n", " ")))
      grp.agg(
          sum(when(col("g") === "click", col("n"))).as("n1"),
          sum(when(col("g") === "purchase", col("n"))).as("n2"),
          sum(when(col("g") === "click", col("h"))).as("h1"),
          sum(when(col("g") === "purchase", col("h"))).as("h2"),
          sum(when(col("g") === "click", col("ts"))).as("ts1"),
          sum(when(col("g") === "purchase", col("ts"))).as("ts2"),
          sum(when(col("g") === "click", col("ws"))).as("ws1"),
          sum(when(col("g") === "purchase", col("ws"))).as("ws2"),
          sum(when(col("g") === "click", col("wss"))).as("wss1"),
          sum(when(col("g") === "purchase", col("wss"))).as("wss2"))
        .withColumn("tm1_fp", expr("ts1 * 1000000 DIV h1"))
        .withColumn("tm2_fp", expr("ts2 * 1000000 DIV h2"))
        .withColumn("t_val", expr(yuenTSql))
        .select("n1", "n2", "h1", "h2", "tm1_fp", "tm2_fp", "t_val")
    }),

    // Chatterjee's ξ correlation (r12, third session; Chatterjee
    // 2021): the modern rank coefficient that is ~0 iff independent
    // and →1 iff y is a measurable FUNCTION of x — detecting the
    // non-monotone dependence ρ and Spearman both miss. Tie-robust
    // form: ξ = 1 − n·Σ|r_{(i+1)} − r_{(i)}| / (2·Σ l_i(n−l_i)),
    // rows ordered by x (ties broken by the lineitem unique key — a
    // fixed total order, replacing the paper's random tie-break with
    // a deterministic one, documented). Scale: y-ranks come from the
    // value-domain prefix sum, materialized once (the denominator
    // fold, the n scalar and the per-row attach all read it); the
    // consecutive-pair scan is GlobalRank.adjacentAbsDiffSum --
    // size-aware-routed lag windows, never a shifted self-join (the
    // r12 form shuffled the whole input twice and executed the
    // partition-less numbering window once per join branch -- two
    // single-task sorts of the full input per run, measured r18);
    // numerator/denominator products lift to DECIMAL(38,0)/HUGEINT
    // (den <= n^3/2).
    "chatterjee_xi_corr" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(
        expr("CAST(round(l_quantity) AS BIGINT)").as("x"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("y"),
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"))
      val sup = li.groupBy("y").agg(count(lit(1)).as("c"))
      val rm = graft.functions.Checkpoints.pin(graft.functions.GlobalRank
        .prefixSum(sup, "r", col("c"), Nil, Seq("y"), pinInput = true))
      // n = sum(c) over the pinned value-domain rank map, COLLECTED
      // once (bit-identical to count(*) over li): the scalar feeds the
      // denominator fold, the final expression AND adjacentAbsDiffSum's
      // routing as a literal — r19: the nDf broadcast subtree ran twice
      // and the numerator's measuring pass re-counted the joined frame
      // (a full scan+join execution) for a number already in hand
      val nVal = rm.agg(sum("c").cast("long")).collect()(0).getLong(0)
      val den = rm
        .withColumn("l", lit(nVal) - col("r") + col("c"))
        .agg(sum(expr(s"2 * CAST(c AS DECIMAL(38,0)) * l * (${nVal}L - l)"))
          .as("den2"))
      val withR = li.join(rm.select("y", "r"), "y")
      graft.functions.GlobalRank.adjacentAbsDiffSum(withR, "sum_absdiff",
          col("r"),
          Seq("x", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
          pinInput = false, knownCount = Some(nVal))
        .crossJoin(broadcast(den))
        .withColumn("n", lit(nVal))
        .withColumn("xi_fp", expr(
          """CAST(1000000 - CAST(n AS DECIMAL(38,0)) * sum_absdiff
            | * 1000000 DIV den2 AS BIGINT)"""
            .stripMargin.replace("\n", " ")))
        .select(col("n"), col("sum_absdiff"),
          col("den2").cast("long").as("den2"), col("xi_fp"))
    }),

    // Jonckheere–Terpstra ordered-alternative test (r12, third
    // session): is o_totalprice stochastically INCREASING along the
    // ordered priority ladder 1→5? Kruskal–Wallis asks "any
    // difference"; J-T pools the C(5,2) pairwise Mann–Whitney counts
    // in score order (Jonckheere 1954) and so has power exactly
    // against the ordered trend. DOUBLED exact counting: J2 =
    // Σ_x Σ_{i<j} c_j(x)·(2·cumlt_i(x) + c_i(x)) — ties count once
    // (half-pair doubled), every term an integer. Scale: the joint
    // value-domain support pivots to 5 per-group count columns, then
    // FIVE chained two-phase prefix sums (GlobalRank — never a
    // partition-less window) give every group's cumulative at every
    // support point; the pair fold is one map-side combinable
    // aggregate. E2 = (N² − Σn_g²)/2 is exact; z uses the standard
    // NO-TIE variance 72·σ² = N²(2N+3) − Σn_g²(2n_g+3) (documented
    // approximation — cents ties are rare; the exact J2/E2 pair is
    // what downstream recomputation needs) as ONE terminal IEEE
    // expression. Envelope: J2 < N² fits int64 to ~3e9 rows; the
    // ·1e6-free fold keeps every sum in int64 at fixture scales and
    // the variance product lifts to DECIMAL(38,0)/HUGEINT.
    "jonckheere_trend_value" -> ((s, d) => {
      val v = Tables.orders(s, d).select(
        expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").as("sc"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("x"))
      val cCols = (1 to 5).map(k =>
        sum(when(col("sc") === k, 1L).otherwise(0L)).as(s"c$k"))
      val sup0 = v.groupBy("x").agg(cCols.head, cCols.tail: _*)
      // one multi-column prefix-sum call (r18): the 5-deep chained form
      // re-executed the support aggregate once per link's measuring
      // pass (O(k²)/2 executions, 1.35 s of eager build-phase jobs)
      val sup = graft.functions.GlobalRank.prefixSums(sup0,
        (1 to 5).map(k => (s"cum$k", col(s"c$k"))), Nil, Seq("x"),
        pinInput = true)
      val pairTerms = (for {
        i <- 1 to 5; j <- (i + 1) to 5
      } yield s"c$j * (2 * (cum$i - c$i) + c$i)").mkString(" + ")
      val gstats = v.groupBy("sc").agg(count(lit(1)).as("n_g"))
        .agg(sum("n_g").as("n_tot"),
          sum(expr("n_g * n_g")).as("sum_n2"),
          sum(expr("CAST(n_g AS DECIMAL(38,0)) * n_g * (2 * n_g + 3)"))
            .as("sum_n23"))
      sup.agg(sum(expr(pairTerms)).as("j2"))
        .crossJoin(broadcast(gstats))
        .withColumn("e2", expr(
          "(CAST(n_tot AS DECIMAL(38,0)) * n_tot - sum_n2) DIV 2"))
        .withColumn("var72", expr(
          """CAST(CAST(n_tot AS DECIMAL(38,0)) * n_tot * (2 * n_tot + 3)
            | - sum_n23 AS DECIMAL(38,0))""".stripMargin.replace("\n", " ")))
        .select(col("n_tot"), col("j2"),
          col("e2").cast("long").as("e2"),
          col("var72").cast("long").as("var72"),
          expr("""CASE WHEN var72 > 0 THEN
                 | round((CAST(j2 AS DOUBLE) - CAST(e2 AS DOUBLE)) / 2.0
                 |   / sqrt(CAST(var72 AS DOUBLE) / 72.0), 6)
                 |ELSE CAST(NULL AS DOUBLE) END"""
            .stripMargin.replace("\n", " ")).as("z_val"))
    }),

    // Friedman rank test (r12, fifth session; Friedman 1937): do the
    // 5 priority classes differ in monthly revenue once the MONTH
    // effect is blocked out? kruskal_wallis pools all orders into one
    // ranking and so confounds seasonality with the priority effect;
    // Friedman ranks the k=5 priority cells WITHIN each month block
    // and asks whether the rank profile is stable across blocks — the
    // repeated-measures ANOVA of the rank world. Blocks are order
    // months (year·12+month, the kendall_tau_monthly axis); the cell
    // value is the month×priority revenue sum in exact cents; only
    // COMPLETE blocks (all 5 priorities present) enter, dropped
    // blocks counted. Scale: cells are a calendar×5-bounded cube from
    // ONE map-side-combinable aggregate of orders; within-block
    // doubled tie-averaged ranks come from the block-keyed 25-pair
    // self-join (r2 = Σ_o [2·(o<v) + (o=v)] + 1 — bounded comma-join,
    // no windows); Q = (3·ΣR2² − 3·n²·k(k+1)²) / (n·k·(k+1)) is an
    // exact non-negative integer rational (Cauchy–Schwarz on the
    // fixed rank-sum total), floored at 1e-6 — ΣR2² ≤ (2kn)²·k stays
    // int64 for any calendar. No tie correction (cents-sum ties are
    // measure-zero; the exact rank sums are emitted for downstream
    // recomputation).
    "friedman_test_priority" -> ((s, d) => {
      val (ranked, nDrop) = monthPriorityRanked(s, d)
      val rs = ranked.groupBy("sc")
        .agg(count(lit(1)).as("n_blocks"), sum("r2").as("r2_sum"))
      val q = rs.agg(max("n_blocks").as("n_b"),
          sum(expr("r2_sum * r2_sum")).as("sr2"))
        .crossJoin(broadcast(nDrop))
        .select(col("n_dropped"), expr(
          """CAST((3 * sr2 * 1000000 - 3000000 * n_b * n_b * 5 * 36)
            | DIV (n_b * 5 * 6) AS BIGINT)"""
            .stripMargin.replace("\n", " ")).as("q_fp"))
      rs.crossJoin(broadcast(q))
        .select("sc", "n_blocks", "r2_sum", "n_dropped", "q_fp")
        .orderBy("sc")
    }),

    // Page's trend test (r12, fifth session; Page 1963): the ORDERED
    // alternative to Friedman over the same month-blocked priority
    // ranks — L = Σ_j j·R_j has power specifically against a
    // monotone rank trend along the priority ladder 1→5, which
    // Friedman's omnibus Q dilutes across all alternatives (the
    // jonckheere:kruskal relationship, repeated in the blocked
    // design). Doubled ranks keep L2 = Σ sc·R2 exact int64; with
    // k=5, μ_L = 45n and σ_L = 5√n (k²(k−1)(k+1)²/144 = 25), so z is
    // ONE shared-text IEEE leaf over (L2, n). Scale: identical to
    // friedman — the shared calendar×5-bounded rank pipeline.
    "page_trend_test" -> ((s, d) => {
      val (ranked, nDrop) = monthPriorityRanked(s, d)
      ranked.groupBy("sc")
        .agg(count(lit(1)).as("nb"), sum(expr("sc * r2")).as("l2_part"))
        .agg(max("nb").as("n_blocks"), sum("l2_part").as("l2_sum"))
        .crossJoin(broadcast(nDrop))
        .filter(col("n_blocks") >= 1)
        .select(col("n_blocks"), col("n_dropped"), col("l2_sum"),
          expr("""round((CAST(l2_sum AS DOUBLE) / 2.0
                 | - 45.0 * n_blocks)
                 | / (5.0 * sqrt(CAST(n_blocks AS DOUBLE))), 6)"""
            .stripMargin.replace("\n", " ")).as("z_val"))
    }),

    // Brown–Forsythe robust one-way ANOVA (r12, fifth session; Brown
    // & Forsythe 1974): does o_totalprice SPREAD differ across the 5
    // priorities? — the Levene variant on |x − median| that stays
    // honest under the heavy tails that wreck Bartlett (and that
    // kruskal_wallis, a LOCATION test, can't see). Fully integer: z =
    // |x − med_g| with med_g the rank-defined per-group median
    // (mad_robust convention); SSB/SSW fold from per-group moment
    // leaves Sz_g² DIV n_g truncated UNSCALED in DECIMAL(38,0) (the
    // kruskal precedent — ≤1-unit-per-group slack, documented; the
    // slack can leave SSB a few units negative at SSB≈0, so the F
    // division is sign-guarded). SS values can pass int64 (z² ≤
    // 2.5e15 × rows) — they cross the boundary as digit STRINGS.
    "brown_forsythe_priority" -> ((s, d) => {
      val v = Tables.orders(s, d).select(
        expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").as("sc"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("x"))
      val cnts = v.groupBy("sc").agg(count(lit(1)).as("cnt"))
      val r1 = graft.functions.GlobalRank
        .rowNumber(v, "rn", Seq("sc"), Seq("x"))
      val med = r1.join(broadcast(cnts), "sc").groupBy("sc")
        .agg(min(when(col("rn") === ceil(col("cnt") * 0.5), col("x")))
          .as("med"))
      val z = v.join(broadcast(med), "sc")
        .withColumn("z", abs(col("x") - col("med")))
      // leaf = ⌊Sz²/n⌋ computed entirely in DECIMAL (Spark's DIV
      // returns BIGINT, which Sz² quotients overflow past sf0.01):
      // subtract the exact remainder, then the true division is an
      // exact integer that the scale-6 decimal represents losslessly
      val g = z.groupBy("sc").agg(count(lit(1)).as("n_g"),
          sum("z").as("sz"),
          sum(expr("CAST(z AS DECIMAL(38,0)) * z")).as("qz"))
        .withColumn("leaf", expr(
          """CAST((CAST(sz AS DECIMAL(38,0)) * sz
            | - (CAST(sz AS DECIMAL(38,0)) * sz) % n_g) / n_g
            | AS DECIMAL(38,0))""".stripMargin.replace("\n", " ")))
      val m = g.agg(sum("n_g").as("n_tot"), sum("sz").as("t_sum"),
          sum(col("leaf")).as("sum_leaf"),
          sum(col("qz")).as("sum_qz"), count(lit(1)).as("k"))
        .withColumn("t2", expr(
          "CAST(t_sum AS DECIMAL(38,0)) * t_sum"))
        .withColumn("ssb", expr(
          "sum_leaf - CAST((t2 - t2 % n_tot) / n_tot AS DECIMAL(38,0))"))
        .withColumn("ssw", expr("sum_qz - sum_leaf"))
        .filter(col("k") >= 2 && expr("ssw > 0") &&
          expr("n_tot > k"))
        .select(col("n_tot"), col("k"),
          col("ssb").cast("string").as("ssb"),
          col("ssw").cast("string").as("ssw"),
          expr("""CASE WHEN ssb >= 0
                 | THEN CAST(CAST(n_tot - k AS DECIMAL(38,0)) * ssb
                 |   * 1000000 DIV ((k - 1) * ssw) AS BIGINT)
                 | ELSE -CAST(CAST(n_tot - k AS DECIMAL(38,0)) * (-ssb)
                 |   * 1000000 DIV ((k - 1) * ssw) AS BIGINT) END"""
            .stripMargin.replace("\n", " ")).as("f_fp"))
      g.select(col("sc"), col("n_g"), col("sz").as("sum_absdev"))
        .join(broadcast(med), "sc")
        .crossJoin(broadcast(m))
        .select("sc", "n_g", "med", "sum_absdev", "n_tot", "ssb",
          "ssw", "f_fp")
        .orderBy("sc")
    }),

    // Ansari–Bradley scale test (r12, fifth session; Ansari &
    // Bradley 1960): do click and purchase values differ in SPREAD
    // around a common center? — the rank test of DISPERSION
    // completing mann_whitney's location read (AB scores rank from
    // both ends inward: extreme values score low, central values
    // high, so a diffuse sample collects a LOW sum). Doubled
    // tie-averaged pooled ranks off the value-domain prefix sum
    // (r2 = 2·cum − c + 1); doubled score s2 = min(r2, 2(N+1) − r2);
    // AB2 = Σ c_click·s2 exact int64. z uses the classical no-tie
    // null moments with the even/odd-N split (documented
    // approximation under cents ties — the exact AB2 is what
    // downstream recomputation needs), ONE shared-text IEEE leaf.
    "ansari_bradley_value" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type").as("g"),
          expr("CAST(round(value * 1000) AS BIGINT)").as("v"))
      val sup = ev.groupBy("v").agg(
        sum(when(col("g") === "click", 1L).otherwise(0L)).as("cx"),
        sum(when(col("g") === "purchase", 1L).otherwise(0L)).as("cy"))
        .withColumn("c", col("cx") + col("cy"))
      val cum = graft.functions.GlobalRank
        .prefixSum(sup, "cum", col("c"), Nil, Seq("v"))
      val ns = sup.agg(sum("cx").as("n_x"), sum("cy").as("n_y"),
        sum("c").as("n_tot"))
      cum.crossJoin(broadcast(ns))
        .withColumn("r2", expr("2 * cum - c + 1"))
        .withColumn("s2", expr("least(r2, 2 * (n_tot + 1) - r2)"))
        .groupBy("n_x", "n_y", "n_tot")
        .agg(sum(expr("cx * s2")).as("ab2"))
        .filter(col("n_x") > 0 && col("n_y") > 0 && col("n_tot") >= 3)
        .select(col("n_x"), col("n_y"), col("ab2"),
          expr(abZSql).as("z_val"))
    }),

    // Goodman–Kruskal γ and Somers' D (r12, fifth session; Goodman &
    // Kruskal 1954; Somers 1962): ordinal association between order
    // priority (1..5) and line quantity (1..50) — γ reads the
    // concordance among UNTIED pairs, D_qty|prio keeps
    // quantity-tied-only pairs in the denominator and so is the
    // asymmetric "how well does priority predict quantity" number
    // (the 2·AUC−1 generalization). EXACT pair counting off the
    // 5×50-bounded cell grid: the C(grid,2) double sum runs on the
    // ≤250-row cell table (bounded comma join — the corpus never
    // pairs); Σnₐ·n_b products lift to DECIMAL(38,0)/HUGEINT; both
    // ratios are signed toward-zero fixed-point divisions.
    "gamma_somers_priority_qty" -> ((s, d) => {
      val cells = Tables.orders(s, d)
        .select(col("o_orderkey"),
          expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").as("sc"))
        .join(Tables.lineitem(s, d).select(col("l_orderkey"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("q")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("sc", "q").agg(count(lit(1)).as("n"))
      val other = cells.select(col("sc").as("sc2"), col("q").as("q2"),
        col("n").as("n2"))
      val pairs = cells.crossJoin(other)
        .agg(
          sum(when(expr("sc < sc2 AND q < q2"),
            expr("CAST(n AS DECIMAL(38,0)) * n2")).otherwise(lit(0)))
            .as("c_pairs"),
          sum(when(expr("sc < sc2 AND q > q2"),
            expr("CAST(n AS DECIMAL(38,0)) * n2")).otherwise(lit(0)))
            .as("d_pairs"),
          sum(when(expr("sc = sc2 AND q < q2"),
            expr("CAST(n AS DECIMAL(38,0)) * n2")).otherwise(lit(0)))
            .as("tx"),
          sum(when(expr("sc < sc2 AND q = q2"),
            expr("CAST(n AS DECIMAL(38,0)) * n2")).otherwise(lit(0)))
            .as("ty"))
      pairs.select(
        col("c_pairs").cast("long").as("c_pairs"),
        col("d_pairs").cast("long").as("d_pairs"),
        col("tx").cast("long").as("tx"),
        col("ty").cast("long").as("ty"),
        expr("""CASE WHEN c_pairs + d_pairs = 0 THEN CAST(NULL AS BIGINT)
               | WHEN c_pairs >= d_pairs
               |   THEN CAST((c_pairs - d_pairs) * 1000000
               |     DIV (c_pairs + d_pairs) AS BIGINT)
               | ELSE -CAST((d_pairs - c_pairs) * 1000000
               |     DIV (c_pairs + d_pairs) AS BIGINT) END"""
          .stripMargin.replace("\n", " ")).as("gamma_fp"),
        expr("""CASE WHEN c_pairs + d_pairs + ty = 0
               |   THEN CAST(NULL AS BIGINT)
               | WHEN c_pairs >= d_pairs
               |   THEN CAST((c_pairs - d_pairs) * 1000000
               |     DIV (c_pairs + d_pairs + ty) AS BIGINT)
               | ELSE -CAST((d_pairs - c_pairs) * 1000000
               |     DIV (c_pairs + d_pairs + ty) AS BIGINT) END"""
          .stripMargin.replace("\n", " ")).as("somers_dqp_fp"))
    }),

    // Cliff's δ effect size (r12, fifth session; Cliff 1993): the
    // weekend-vs-weekday dominance of event value — δ = (#(x>y) −
    // #(x<y))/(n₁n₂), the ordinal effect-size companion to
    // mann_whitney_u_value's significance (same machinery, the
    // interpretable [-1,1] magnitude a dashboard reports instead of a
    // p-value). EXACT pair counting without pairs: over the joint
    // value-domain support, #gt folds Σ c_w(v)·cum<_e(v) and #lt
    // folds Σ c_w(v)·(n_e − cum≤_e(v)) off ONE two-phase prefix sum
    // of the weekday counts — products lift to DECIMAL(38,0)/HUGEINT
    // (≤ n₁n₂); δ is one signed toward-zero fixed-point division.
    // Conservation #gt+#lt+#eq = n₁·n₂ is the spec law. Weekend =
    // the epoch-day dow convention shared with odds_ratio_weekend.
    "cliff_delta_weekend" -> ((s, d) => {
      val ev = Tables.events(s, d).select(
        expr("(unix_micros(ts) DIV 86400000000 + 4) % 7 >= 5").as("we"),
        expr("CAST(round(value * 1000) AS BIGINT)").as("v"))
      val sup = ev.groupBy("v").agg(
        sum(when(col("we"), 1L).otherwise(0L)).as("cw"),
        sum(when(!col("we"), 1L).otherwise(0L)).as("ce"))
      val cum = graft.functions.GlobalRank
        .prefixSum(sup, "cum_e", col("ce"), Nil, Seq("v"))
      val ns = ev.agg(
        sum(when(col("we"), 1L).otherwise(0L)).as("n_we"),
        sum(when(!col("we"), 1L).otherwise(0L)).as("n_wd"))
      cum.crossJoin(broadcast(ns))
        .agg(
          sum(expr("CAST(cw AS DECIMAL(38,0)) * (cum_e - ce)")).as("gt"),
          sum(expr("CAST(cw AS DECIMAL(38,0)) * (n_wd - cum_e)")).as("lt"),
          sum(expr("CAST(cw AS DECIMAL(38,0)) * ce")).as("eq"))
        .crossJoin(broadcast(ns))
        .select(col("n_we"), col("n_wd"),
          col("gt").cast("long").as("n_gt"),
          col("lt").cast("long").as("n_lt"),
          col("eq").cast("long").as("n_eq"),
          expr("""CASE WHEN n_we = 0 OR n_wd = 0 THEN CAST(NULL AS BIGINT)
                 | WHEN gt >= lt THEN CAST((gt - lt) * 1000000
                 |   DIV (CAST(n_we AS DECIMAL(38,0)) * n_wd) AS BIGINT)
                 | ELSE -CAST((lt - gt) * 1000000
                 |   DIV (CAST(n_we AS DECIMAL(38,0)) * n_wd) AS BIGINT)
                 | END""".stripMargin.replace("\n", " ")).as("delta_fp"))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "yuen_trimmed_t" ->
      s"""WITH ev AS (
         |  SELECT event_type AS g, CAST(round(value * 1000) AS BIGINT) AS v
         |  FROM events WHERE event_type IN ('click', 'purchase')),
         |sup AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM ev
         |        GROUP BY 1, 2),
         |cum AS (SELECT g, v, c,
         |          CAST(sum(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT)
         |            AS cum
         |        FROM sup),
         |ns AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
         |              CAST(count(*) // 5 AS BIGINT) AS g20
         |       FROM ev GROUP BY 1),
         |lo AS (SELECT c.g, CAST(min(c.v) AS BIGINT) AS vlo
         |       FROM cum c JOIN ns USING (g)
         |       WHERE c.cum >= ns.g20 + 1 GROUP BY 1),
         |hi AS (SELECT c.g, CAST(min(c.v) AS BIGINT) AS vhi
         |       FROM cum c JOIN ns USING (g)
         |       WHERE c.cum >= ns.n - ns.g20 GROUP BY 1),
         |kept AS (
         |  SELECT c.g,
         |         CAST(sum((c.c - greatest(0, least(c.c, ns.g20 - (c.cum - c.c)))
         |                   - greatest(0, least(c.c, c.cum - (ns.n - ns.g20))))
         |                  * c.v) AS BIGINT) AS ts,
         |         CAST(sum(CAST(c.c - greatest(0, least(c.c, ns.g20 - (c.cum - c.c)))
         |                   - greatest(0, least(c.c, c.cum - (ns.n - ns.g20)))
         |                  AS HUGEINT) * c.v * c.v) AS HUGEINT) AS tss
         |  FROM cum c JOIN ns USING (g) GROUP BY 1),
         |grp AS (
         |  SELECT k.g, ns.n, ns.n - 2 * ns.g20 AS h, k.ts,
         |         k.ts + ns.g20 * (lo.vlo + hi.vhi) AS ws,
         |         k.tss + CAST(ns.g20 AS HUGEINT)
         |           * (CAST(lo.vlo AS HUGEINT) * lo.vlo
         |              + CAST(hi.vhi AS HUGEINT) * hi.vhi) AS wss
         |  FROM kept k JOIN lo USING (g) JOIN hi USING (g)
         |       JOIN ns USING (g)),
         |one AS (
         |  SELECT
         |    CAST(sum(CASE WHEN g = 'click' THEN n END) AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN g = 'purchase' THEN n END) AS BIGINT) AS n2,
         |    CAST(sum(CASE WHEN g = 'click' THEN h END) AS BIGINT) AS h1,
         |    CAST(sum(CASE WHEN g = 'purchase' THEN h END) AS BIGINT) AS h2,
         |    CAST(sum(CASE WHEN g = 'click' THEN ts END) AS BIGINT) AS ts1,
         |    CAST(sum(CASE WHEN g = 'purchase' THEN ts END) AS BIGINT) AS ts2,
         |    sum(CASE WHEN g = 'click' THEN ws END) AS ws1,
         |    sum(CASE WHEN g = 'purchase' THEN ws END) AS ws2,
         |    sum(CASE WHEN g = 'click' THEN wss END) AS wss1,
         |    sum(CASE WHEN g = 'purchase' THEN wss END) AS wss2
         |  FROM grp)
         |SELECT n1, n2, h1, h2,
         |       CAST(ts1 * 1000000 // h1 AS BIGINT) AS tm1_fp,
         |       CAST(ts2 * 1000000 // h2 AS BIGINT) AS tm2_fp,
         |       $yuenTSql AS t_val
         |FROM one""".stripMargin,

    "chatterjee_xi_corr" ->
      """WITH li AS (
        |  SELECT CAST(round(l_quantity) AS BIGINT) AS x,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
        |         l_orderkey, l_linenumber, l_partkey, l_suppkey
        |  FROM lineitem),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM li),
        |sup AS (SELECT y, CAST(count(*) AS BIGINT) AS c FROM li
        |        GROUP BY 1),
        |rm AS (SELECT y, c, CAST(sum(c) OVER (ORDER BY y) AS BIGINT) AS r
        |       FROM sup),
        |den AS (
        |  SELECT CAST(sum(2 * CAST(c AS HUGEINT) * (nt.n - r + c)
        |           * (nt.n - (nt.n - r + c))) AS HUGEINT) AS den2
        |  FROM rm CROSS JOIN nt),
        |pos AS (
        |  SELECT row_number() OVER (ORDER BY x, l_orderkey, l_linenumber,
        |           l_partkey, l_suppkey) AS pos, y
        |  FROM li),
        |pr AS (SELECT p.pos, rm.r FROM pos p JOIN rm ON rm.y = p.y),
        |num AS (
        |  SELECT CAST(sum(abs(b.r - a.r)) AS BIGINT) AS sum_absdiff
        |  FROM pr a JOIN pr b ON b.pos = a.pos + 1)
        |SELECT nt.n, num.sum_absdiff, CAST(den.den2 AS BIGINT) AS den2,
        |       CAST(1000000 - CAST(nt.n AS HUGEINT) * num.sum_absdiff
        |         * 1000000 // den.den2 AS BIGINT) AS xi_fp
        |FROM nt CROSS JOIN num CROSS JOIN den""".stripMargin,

    "jonckheere_trend_value" -> {
      val pairTerms = (for {
        i <- 1 to 5; j <- (i + 1) to 5
      } yield s"c$j * (2 * (cum$i - c$i) + c$i)").mkString(" + ")
      val cumCols = (1 to 5).map(k =>
        s"CAST(sum(c$k) OVER (ORDER BY x) AS BIGINT) AS cum$k")
        .mkString(", ")
      val cCols = (1 to 5).map(k =>
        s"CAST(sum(CASE WHEN sc = $k THEN 1 ELSE 0 END) AS BIGINT) AS c$k")
        .mkString(", ")
      s"""WITH v AS (
         |  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS sc,
         |         CAST(round(o_totalprice * 100) AS BIGINT) AS x
         |  FROM orders),
         |sup AS (SELECT x, $cCols FROM v GROUP BY x),
         |cums AS (SELECT x, c1, c2, c3, c4, c5, $cumCols FROM sup),
         |jj AS (SELECT CAST(sum($pairTerms) AS BIGINT) AS j2 FROM cums),
         |g AS (SELECT sc, CAST(count(*) AS BIGINT) AS n_g FROM v
         |      GROUP BY 1),
         |gs AS (SELECT CAST(sum(n_g) AS BIGINT) AS n_tot,
         |              CAST(sum(n_g * n_g) AS BIGINT) AS sum_n2,
         |              CAST(sum(CAST(n_g AS HUGEINT) * n_g * (2 * n_g + 3))
         |                AS HUGEINT) AS sum_n23
         |       FROM g),
         |m AS (
         |  SELECT gs.n_tot, jj.j2,
         |         CAST((CAST(gs.n_tot AS HUGEINT) * gs.n_tot - gs.sum_n2)
         |           // 2 AS BIGINT) AS e2,
         |         CAST(CAST(gs.n_tot AS HUGEINT) * gs.n_tot
         |           * (2 * gs.n_tot + 3) - gs.sum_n23 AS BIGINT) AS var72
         |  FROM gs CROSS JOIN jj)
         |SELECT n_tot, j2, e2, var72,
         |       CASE WHEN var72 > 0 THEN
         |         round((CAST(j2 AS DOUBLE) - CAST(e2 AS DOUBLE)) / 2.0
         |           / sqrt(CAST(var72 AS DOUBLE) / 72.0), 6)
         |       ELSE NULL END AS z_val
         |FROM m""".stripMargin
    },

    "kruskal_wallis_priority" ->
      s"""WITH v AS (
         |  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS sc,
         |         CAST(round(o_totalprice * 100) AS BIGINT) AS x
         |  FROM orders),
         |sup AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1),
         |rm AS (
         |  SELECT x, 2 * CAST(sum(c) OVER (ORDER BY x) AS BIGINT) - c + 1
         |           AS r2
         |  FROM sup),
         |g AS (
         |  SELECT sc, CAST(sum(cg) AS BIGINT) AS n_g,
         |         CAST(sum(cg * r2) AS BIGINT) AS r2_sum
         |  FROM (SELECT sc, x, CAST(count(*) AS BIGINT) AS cg
         |        FROM v GROUP BY 1, 2) gv
         |  JOIN rm USING (x) GROUP BY 1),
         |lv AS (
         |  SELECT sc, n_g, r2_sum,
         |         CAST(r2_sum AS HUGEINT) * r2_sum // (4 * n_g) AS leaf
         |  FROM g),
         |t AS (SELECT CAST(sum(c * c * c - c) AS BIGINT) AS tie3 FROM sup),
         |m AS (SELECT CAST(sum(n_g) AS BIGINT) AS n_tot, sum(leaf) AS sl
         |      FROM lv),
         |h AS (
         |  SELECT n_tot, tie3,
         |         CAST(12 * sl * 1000000
         |           // (CAST(n_tot AS HUGEINT) * (n_tot + 1))
         |           - 3 * (n_tot + 1) * 1000000 AS BIGINT) AS h_fp,
         |         CAST(1000000 - CAST(tie3 AS HUGEINT) * 1000000
         |           // (CAST(n_tot AS HUGEINT) * n_tot * n_tot - n_tot)
         |           AS BIGINT) AS c_fp
         |  FROM m CROSS JOIN t),
         |hh AS (
         |  SELECT n_tot, tie3, h_fp, c_fp,
         |         CASE WHEN c_fp > 0
         |           THEN CAST(${signedFpDivDuck("h_fp", "c_fp")} AS BIGINT)
         |         ELSE NULL END AS h_corr_fp
         |  FROM h)
         |SELECT lv.sc, lv.n_g, lv.r2_sum, hh.n_tot, hh.tie3, hh.h_fp,
         |       hh.c_fp, hh.h_corr_fp
         |FROM lv CROSS JOIN hh ORDER BY lv.sc""".stripMargin,

    "armitage_trend_priority" ->
      """WITH g AS (
        |  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS sc,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |           AS BIGINT) AS k
        |  FROM orders GROUP BY 1),
        |m AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(k) AS BIGINT) AS kk,
        |         CAST(sum(sc * n) AS BIGINT) AS ssn,
        |         CAST(sum(sc * k) AS BIGINT) AS ssk,
        |         CAST(sum(sc * sc * n) AS BIGINT) AS ss2n
        |  FROM g),
        |t AS (
        |  SELECT nn, kk,
        |         CAST(nn AS HUGEINT) * ssk - CAST(kk AS HUGEINT) * ssn
        |           AS tnum,
        |         CAST(nn AS HUGEINT) * ss2n - CAST(ssn AS HUGEINT) * ssn
        |           AS tden
        |  FROM m),
        |z AS (
        |  SELECT CASE WHEN kk > 0 AND kk < nn AND tden > 0 THEN CAST(
        |           CAST(nn AS HUGEINT) * tnum * tnum * 1000000
        |           // (CAST(kk AS HUGEINT) * (nn - kk) * tden) AS BIGINT)
        |         ELSE NULL END AS z2_fp
        |  FROM t)
        |SELECT g.sc, g.n, g.k,
        |       CAST(g.k * 1000000 // g.n AS BIGINT) AS rate_fp, z.z2_fp
        |FROM g CROSS JOIN z ORDER BY g.sc""".stripMargin,

    "spearman_rank_corr" ->
      s"""WITH q AS (
         |  SELECT l_returnflag,
         |         CAST(round(l_quantity * 100) AS BIGINT) AS x,
         |         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
         |  FROM lineitem),
         |r AS (
         |  SELECT l_returnflag,
         |         2 * rank() OVER (PARTITION BY l_returnflag ORDER BY x)
         |           + count(*) OVER (PARTITION BY l_returnflag, x) - 1 AS rx2,
         |         2 * rank() OVER (PARTITION BY l_returnflag ORDER BY y)
         |           + count(*) OVER (PARTITION BY l_returnflag, y) - 1 AS ry2
         |  FROM q),
         |m AS (
         |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
         |         sum(CAST(rx2 AS HUGEINT)) AS sx,
         |         sum(CAST(ry2 AS HUGEINT)) AS sy,
         |         sum(CAST(rx2 AS HUGEINT) * rx2) AS sxx,
         |         sum(CAST(ry2 AS HUGEINT) * ry2) AS syy,
         |         sum(CAST(rx2 AS HUGEINT) * ry2) AS sxy
         |  FROM r GROUP BY 1),
         |f AS (
         |  SELECT l_returnflag, n_rows,
         |         n_rows * sxy - sx * sy AS num,
         |         n_rows * sxx - sx * sx AS dx,
         |         n_rows * syy - sy * sy AS dy
         |  FROM m)
         |SELECT l_returnflag, n_rows,
         |       ${rhoSql("num", "dx", "dy")} AS rho_spearman
         |FROM f ORDER BY l_returnflag""".stripMargin,

    "mann_whitney_u_value" ->
      s"""WITH ev AS (
         |  SELECT event_type, CAST(round(value * 1000) AS BIGINT) AS v_fp
         |  FROM events WHERE event_type IN ('click', 'purchase')),
         |sup AS (
         |  SELECT v_fp,
         |         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         |           AS BIGINT) AS c1,
         |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |           AS BIGINT) AS c2
         |  FROM ev GROUP BY 1),
         |cum AS (
         |  SELECT v_fp, c1, c2,
         |         CAST(sum(c2) OVER (ORDER BY v_fp) AS BIGINT) AS cum2
         |  FROM sup),
         |m AS (
         |  SELECT CAST(sum(c1) AS BIGINT) AS n1,
         |         CAST(sum(c2) AS BIGINT) AS n2,
         |         CAST(sum(c1 * (2 * cum2 - c2)) AS BIGINT) AS u2_click
         |  FROM cum)
         |SELECT n1, n2, u2_click,
         |       CAST(2 * n1 * n2 - u2_click AS BIGINT) AS u2_purchase,
         |       CAST(u2_click * 1000000 // (2 * n1 * n2) AS BIGINT) AS auc_fp
         |FROM m""".stripMargin,

    "kendall_tau_monthly" ->
      s"""WITH monthly AS (
         |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS mi,
         |         CAST(count(*) AS BIGINT) AS n_ord,
         |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
         |           AS BIGINT) AS rev
         |  FROM orders GROUP BY 1),
         |p AS (
         |  SELECT sign(b.n_ord - a.n_ord) AS dx,
         |         sign(CAST(b.rev - a.rev AS DOUBLE)) AS dy
         |  FROM monthly a JOIN monthly b ON a.mi < b.mi),
         |m AS (
         |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM monthly) AS n_months,
         |         CAST(count(*) AS BIGINT) AS n_pairs,
         |         CAST(sum(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS concordant,
         |         CAST(sum(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS discordant,
         |         CAST(sum(CASE WHEN dx = 0 AND dy <> 0 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS ties_x,
         |         CAST(sum(CASE WHEN dy = 0 AND dx <> 0 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS ties_y,
         |         CAST(sum(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS ties_both
         |  FROM p)
         |SELECT n_months, n_pairs, concordant, discordant,
         |       ties_x, ties_y, ties_both,
         |       CAST(${signedFpDivDuck("concordant - discordant", "n_pairs")}
         |         AS BIGINT) AS tau_a_fp
         |FROM m""".stripMargin,

    "cramers_v_priority_status" ->
      s"""WITH c AS (
         |  SELECT o_orderpriority, o_orderstatus,
         |         CAST(count(*) AS BIGINT) AS o
         |  FROM orders GROUP BY 1, 2),
         |rt AS (SELECT o_orderpriority, CAST(sum(o) AS BIGINT) AS rt
         |       FROM c GROUP BY 1),
         |ct AS (SELECT o_orderstatus, CAST(sum(o) AS BIGINT) AS ct
         |       FROM c GROUP BY 1),
         |n AS (SELECT CAST(sum(o) AS BIGINT) AS n_tot,
         |             CAST(count(DISTINCT o_orderpriority) AS BIGINT)
         |               AS n_rows_dim,
         |             CAST(count(DISTINCT o_orderstatus) AS BIGINT)
         |               AS n_cols_dim
         |      FROM c),
         |grid AS (
         |  SELECT rt.o_orderpriority, ct.o_orderstatus, rt.rt, ct.ct,
         |         COALESCE(c.o, 0) AS o, n.n_tot, n.n_rows_dim, n.n_cols_dim
         |  FROM rt CROSS JOIN ct CROSS JOIN n
         |  LEFT JOIN c ON c.o_orderpriority = rt.o_orderpriority
         |            AND c.o_orderstatus = ct.o_orderstatus),
         |agg AS (
         |  SELECT n_tot, n_rows_dim, n_cols_dim,
         |         CAST(count(*) AS BIGINT) AS n_cells,
         |         CAST(sum($chi2TermSql) AS BIGINT) AS chi2_fp
         |  FROM grid GROUP BY 1, 2, 3)
         |SELECT n_tot, n_cells,
         |       CAST((n_rows_dim - 1) * (n_cols_dim - 1) AS BIGINT) AS dof,
         |       chi2_fp,
         |       round(sqrt(CAST(chi2_fp AS DOUBLE) / 1000000.0
         |         / (n_tot * least(n_rows_dim - 1, n_cols_dim - 1))), 6)
         |         AS cramers_v
         |FROM agg""".stripMargin,

    // same cells / 25-pair block join / doubled tie-averaged ranks;
    // the Q numerator is non-negative (Cauchy-Schwarz), so // floors
    "friedman_test_priority" ->
      s"""$monthRankedCte,
        |rs AS (SELECT sc, CAST(count(*) AS BIGINT) AS n_blocks,
        |              CAST(sum(r2) AS BIGINT) AS r2_sum
        |       FROM ranked GROUP BY 1),
        |q AS (SELECT n_dropped,
        |        CAST((3 * CAST(sum(r2_sum * r2_sum) AS HUGEINT) * 1000000
        |          - CAST(3000000 AS HUGEINT) * max(n_blocks) * max(n_blocks)
        |            * 5 * 36)
        |          // (max(n_blocks) * 5 * 6) AS BIGINT) AS q_fp
        |      FROM rs CROSS JOIN nd GROUP BY n_dropped)
        |SELECT rs.sc, rs.n_blocks, rs.r2_sum, q.n_dropped, q.q_fp
        |FROM rs CROSS JOIN q ORDER BY rs.sc""".stripMargin,

    // same rank pipeline; identical z leaf over (L2, n)
    "page_trend_test" ->
      s"""$monthRankedCte,
        |rs AS (SELECT sc, CAST(count(*) AS BIGINT) AS nb,
        |              CAST(sum(sc * r2) AS BIGINT) AS l2_part
        |       FROM ranked GROUP BY 1),
        |m AS (SELECT CAST(max(nb) AS BIGINT) AS n_blocks,
        |             CAST(sum(l2_part) AS BIGINT) AS l2_sum FROM rs)
        |SELECT n_blocks, n_dropped, l2_sum,
        |       round((CAST(l2_sum AS DOUBLE) / 2.0 - 45.0 * n_blocks)
        |         / (5.0 * sqrt(CAST(n_blocks AS DOUBLE))), 6) AS z_val
        |FROM m CROSS JOIN nd WHERE n_blocks >= 1""".stripMargin,

    // same rank-defined medians / truncated leaves / sign-guarded F
    "brown_forsythe_priority" ->
      """WITH v AS MATERIALIZED (
        |  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS sc,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS x
        |  FROM orders),
        |cnts AS (SELECT sc, CAST(count(*) AS BIGINT) AS cnt
        |         FROM v GROUP BY 1),
        |r1 AS (SELECT sc, x,
        |              row_number() OVER (PARTITION BY sc ORDER BY x)
        |                AS rn
        |       FROM v),
        |med AS (
        |  SELECT r1.sc, min(CASE WHEN r1.rn = ceil(cnts.cnt * 0.5)
        |                    THEN r1.x END) AS med
        |  FROM r1 JOIN cnts ON cnts.sc = r1.sc GROUP BY r1.sc),
        |z AS (SELECT v.sc, abs(v.x - med.med) AS z
        |      FROM v JOIN med ON med.sc = v.sc),
        |g AS (
        |  SELECT sc, CAST(count(*) AS BIGINT) AS n_g,
        |         CAST(sum(z) AS BIGINT) AS sz,
        |         sum(CAST(z AS HUGEINT) * z) AS qz
        |  FROM z GROUP BY 1),
        |lf AS (SELECT sc, n_g, sz, qz,
        |              CAST(sz AS HUGEINT) * sz // n_g AS leaf
        |       FROM g),
        |m AS (
        |  SELECT CAST(sum(n_g) AS BIGINT) AS n_tot,
        |         CAST(sum(sz) AS BIGINT) AS t_sum,
        |         sum(leaf) AS sum_leaf, sum(qz) AS sum_qz,
        |         CAST(count(*) AS BIGINT) AS k
        |  FROM lf),
        |f AS (
        |  SELECT n_tot, k,
        |         sum_leaf - CAST(t_sum AS HUGEINT) * t_sum // n_tot
        |           AS ssb,
        |         sum_qz - sum_leaf AS ssw
        |  FROM m WHERE k >= 2 AND n_tot > k),
        |ff AS (
        |  SELECT n_tot, k, ssb, ssw,
        |         CASE WHEN ssb >= 0
        |           THEN CAST((n_tot - k) * ssb * 1000000
        |             // ((k - 1) * ssw) AS BIGINT)
        |           ELSE -CAST((n_tot - k) * (-ssb) * 1000000
        |             // ((k - 1) * ssw) AS BIGINT) END AS f_fp
        |  FROM f WHERE ssw > 0)
        |SELECT lf.sc, lf.n_g, med.med, lf.sz AS sum_absdev, ff.n_tot,
        |       CAST(ff.ssb AS VARCHAR) AS ssb,
        |       CAST(ff.ssw AS VARCHAR) AS ssw, ff.f_fp
        |FROM lf JOIN med ON med.sc = lf.sc CROSS JOIN ff
        |ORDER BY lf.sc""".stripMargin,

    // same pooled doubled ranks / end-inward scores / parity z leaf
    "ansari_bradley_value" ->
      s"""WITH ev AS MATERIALIZED (
         |  SELECT event_type AS g, CAST(round(value * 1000) AS BIGINT)
         |           AS v
         |  FROM events WHERE event_type IN ('click', 'purchase')),
         |sup AS MATERIALIZED (
         |  SELECT v,
         |         CAST(sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END)
         |           AS BIGINT) AS cx,
         |         CAST(sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END)
         |           AS BIGINT) AS cy
         |  FROM ev GROUP BY 1),
         |cum AS (SELECT v, cx, cy, cx + cy AS c,
         |               CAST(sum(cx + cy) OVER (ORDER BY v) AS BIGINT)
         |                 AS cum
         |        FROM sup),
         |ns AS (SELECT CAST(sum(cx) AS BIGINT) AS n_x,
         |              CAST(sum(cy) AS BIGINT) AS n_y,
         |              CAST(sum(cx + cy) AS BIGINT) AS n_tot
         |       FROM sup),
         |ab AS (
         |  SELECT n_x, n_y, n_tot,
         |         CAST(sum(cx * least(2 * cum - c + 1,
         |           2 * (n_tot + 1) - (2 * cum - c + 1))) AS BIGINT)
         |           AS ab2
         |  FROM cum CROSS JOIN ns
         |  GROUP BY n_x, n_y, n_tot)
         |SELECT n_x, n_y, ab2, $abZSql AS z_val
         |FROM ab WHERE n_x > 0 AND n_y > 0 AND n_tot >= 3""".stripMargin,

    // same bounded cell-grid double sum; HUGEINT products
    "gamma_somers_priority_qty" ->
      """WITH cells AS MATERIALIZED (
        |  SELECT CAST(substring(o.o_orderpriority, 1, 1) AS BIGINT) AS sc,
        |         CAST(round(l.l_quantity) AS BIGINT) AS q,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT
        |    sum(CASE WHEN a.sc < b.sc AND a.q < b.q
        |        THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END) AS c_pairs,
        |    sum(CASE WHEN a.sc < b.sc AND a.q > b.q
        |        THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END) AS d_pairs,
        |    sum(CASE WHEN a.sc = b.sc AND a.q < b.q
        |        THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END) AS tx,
        |    sum(CASE WHEN a.sc < b.sc AND a.q = b.q
        |        THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END) AS ty
        |  FROM cells a CROSS JOIN cells b)
        |SELECT CAST(c_pairs AS BIGINT) AS c_pairs,
        |       CAST(d_pairs AS BIGINT) AS d_pairs,
        |       CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
        |       CASE WHEN c_pairs + d_pairs = 0 THEN NULL
        |            WHEN c_pairs >= d_pairs
        |              THEN CAST((c_pairs - d_pairs) * 1000000
        |                // (c_pairs + d_pairs) AS BIGINT)
        |            ELSE -CAST((d_pairs - c_pairs) * 1000000
        |                // (c_pairs + d_pairs) AS BIGINT) END AS gamma_fp,
        |       CASE WHEN c_pairs + d_pairs + ty = 0 THEN NULL
        |            WHEN c_pairs >= d_pairs
        |              THEN CAST((c_pairs - d_pairs) * 1000000
        |                // (c_pairs + d_pairs + ty) AS BIGINT)
        |            ELSE -CAST((d_pairs - c_pairs) * 1000000
        |                // (c_pairs + d_pairs + ty) AS BIGINT) END
        |         AS somers_dqp_fp
        |FROM p""".stripMargin,

    // same support-fold pair counting; signed toward-zero division
    "cliff_delta_weekend" ->
      """WITH ev AS MATERIALIZED (
        |  SELECT (epoch_us(ts) // 86400000000 + 4) % 7 >= 5 AS we,
        |         CAST(round(value * 1000) AS BIGINT) AS v
        |  FROM events),
        |sup AS MATERIALIZED (
        |  SELECT v,
        |         CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT) AS cw,
        |         CAST(sum(CASE WHEN NOT we THEN 1 ELSE 0 END) AS BIGINT)
        |           AS ce
        |  FROM ev GROUP BY 1),
        |cum AS (SELECT v, cw, ce,
        |               CAST(sum(ce) OVER (ORDER BY v) AS BIGINT) AS cum_e
        |        FROM sup),
        |ns AS (SELECT CAST(sum(cw) AS BIGINT) AS n_we,
        |              CAST(sum(ce) AS BIGINT) AS n_wd FROM sup),
        |f AS (SELECT sum(CAST(cw AS HUGEINT) * (cum_e - ce)) AS gt,
        |             sum(CAST(cw AS HUGEINT) * (n_wd - cum_e)) AS lt,
        |             sum(CAST(cw AS HUGEINT) * ce) AS eq
        |      FROM cum CROSS JOIN ns)
        |SELECT n_we, n_wd, CAST(gt AS BIGINT) AS n_gt,
        |       CAST(lt AS BIGINT) AS n_lt, CAST(eq AS BIGINT) AS n_eq,
        |       CASE WHEN n_we = 0 OR n_wd = 0 THEN NULL
        |            WHEN gt >= lt THEN CAST((gt - lt) * 1000000
        |              // (CAST(n_we AS HUGEINT) * n_wd) AS BIGINT)
        |            ELSE -CAST((lt - gt) * 1000000
        |              // (CAST(n_we AS HUGEINT) * n_wd) AS BIGINT)
        |       END AS delta_fp
        |FROM f CROSS JOIN ns""".stripMargin,
  )
}
