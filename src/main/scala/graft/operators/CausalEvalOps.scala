package graft.operators

import graft.{OpGroup, Tables}
import graft.Det.{signedDiv, signedDivDuck}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Off-policy / uncertainty / causal evaluation operators (round-10
  * widening, fourth session): inverse-propensity off-policy value
  * estimation over the logged event stream (the counterfactual "what
  * would policy π have earned" readout), a split-conformal prediction
  * interval with its finite-sample coverage check (the
  * distribution-free uncertainty wrapper modern ML serving publishes),
  * and coarsened-exact-matching ATT (the deterministic cousin of
  * propensity matching — CUPED/SRM's missing causal sibling).
  *
  * Determinism & scale design:
  *   - IPS works entirely in (context × action) enum-bounded state:
  *     empirical propensities are exact integer count ratios, matched
  *     reward mass is summed per cell BEFORE the one division per
  *     cell, and the target policy is a fixed literal CASE.
  *   - Conformal: residuals are exact integers against the fixed-point
  *     calibration means; the q̂ quantile is RANK-defined at the
  *     standard ⌈0.9(n+1)⌉ index via the two-phase numbering; coverage
  *     is an integer share.
  *   - CEM: strata are fixed CASE bands over pre-period integer
  *     aggregates (no data-dependent breaks ⇒ no quantile engine
  *     drift); treatment is the md5-bit arm (ab_srm_check's split);
  *     ATT composes per-stratum integer divisions identically on both
  *     engines; all state is strata-bounded.
  */
object CausalEvalOps extends OpGroup {

  /** SMD = (m₁−m₀)/√((s₁²+s₀²)/2) as ONE terminal IEEE expression over
    * the exact per-arm moment set, rounded 6dp; NULL-guarded on a
    * degenerate arm.
    */
  private val smdSql =
    """CASE WHEN n0 > 1 AND n1 > 1 THEN round(
      |  (CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0)
      |  / sqrt(((CAST(n1 AS DOUBLE) * CAST(sxx1 AS DOUBLE)
      |           - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE))
      |          / (CAST(n1 AS DOUBLE) * (n1 - 1.0))
      |        + (CAST(n0 AS DOUBLE) * CAST(sxx0 AS DOUBLE)
      |           - CAST(sx0 AS DOUBLE) * CAST(sx0 AS DOUBLE))
      |          / (CAST(n0 AS DOUBLE) * (n0 - 1.0))) / 2.0), 6)
      |ELSE CAST(NULL AS DOUBLE) END""".stripMargin.replace("\n", " ")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // IPS value of the fixed policy π(am)=click, π(pm)=purchase under
    // the logged (empirical) behavior propensities.
    "ips_policy_value" -> ((s, d) => {
      val ev = Tables.events(s, d).select(
        expr("CASE WHEN hour(ts) < 12 THEN 'am' ELSE 'pm' END").as("x"),
        col("event_type").as("a"),
        expr("CAST(round(value * 1000) AS BIGINT)").as("r"))
      val nx = ev.groupBy("x").agg(count(lit(1)).as("n_x"))
      val cell = ev.groupBy("x", "a")
        .agg(count(lit(1)).as("n_xa"), sum("r").as("s_r"))
      val tot = ev.agg(count(lit(1)).as("n_events"), sum("r").as("s_all"))
      val pi = expr(
        "CASE WHEN x = 'am' THEN 'click' ELSE 'purchase' END")
      cell.filter(col("a") === pi)
        .join(broadcast(nx), "x")
        .withColumn("contrib", expr("s_r * n_x DIV n_xa"))
        .agg(sum("contrib").as("ips_mass"))
        .crossJoin(broadcast(tot))
        .select(col("n_events"),
          expr("s_all * 1000 DIV n_events").as("v_logged_mean_fp"),
          expr("ips_mass * 1000 DIV n_events").as("v_ips_fp"))
    }),

    // Split-conformal interval around the per-type calibration mean,
    // with finite-sample coverage measured on the held-out half.
    "split_conformal_interval" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"),
        col("event_type"),
        expr("CAST(round(value * 1000) AS BIGINT)").as("v"))
      val cal = ev.filter(col("event_id") % 2 === 0)
      val test = ev.filter(col("event_id") % 2 === 1)
      val means = cal.groupBy("event_type")
        .agg(count(lit(1)).as("n_t"), sum("v").as("s_t"))
        .withColumn("mean_fp", expr("s_t * 1000 DIV n_t"))
        .select("event_type", "mean_fp")
      def resid(df: DataFrame) = df.join(broadcast(means), "event_type")
        .withColumn("r", abs(expr("v * 1000 - mean_fp")))
      val calR = resid(cal)
      val nc = calR.agg(count(lit(1)).as("n_cal"))
      val ranked = graft.functions.GlobalRank
        .rowNumber(calR.select("r", "event_id"), "rn", Nil,
          Seq("r", "event_id"))
      val qhat = ranked.crossJoin(broadcast(nc))
        .filter(expr("rn = (9 * (n_cal + 1) + 9) DIV 10"))
        .select(col("n_cal"), col("r").as("q_hat"))
      val testR = resid(test)
      testR.crossJoin(broadcast(qhat))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("r") <= col("q_hat"), 1L).otherwise(0L))
            .as("n_covered"),
          max("n_cal").as("n_cal"), max("q_hat").as("q_hat"))
        .withColumn("coverage_fp", expr("n_covered * 1000000 DIV n_test"))
        .select("n_cal", "n_test", "q_hat", "n_covered", "coverage_fp")
    }),

    // CEM ATT: md5-bit treatment arm, fixed pre-period covariate bands,
    // treated-weighted outcome contrast over matched strata.
    "coarsened_exact_matching_att" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')").as("di"),
        expr("CAST(round(value * 1000) AS BIGINT)").as("v"),
        col("event_type"))
      val mind = ev.agg(min("di").as("min_di"))
      val tagged = ev.crossJoin(broadcast(mind))
      val users = tagged.groupBy("user_id").agg(
        sum(when(col("di") - col("min_di") < 15, col("v")).otherwise(0L))
          .as("pre_v"),
        sum(when(col("di") - col("min_di") < 15, 1L).otherwise(0L))
          .as("pre_n"),
        sum(when(col("di") - col("min_di") >= 15 &&
          col("event_type") === "purchase", col("v")).otherwise(0L))
          .as("outcome"))
        .withColumn("arm", expr(
          "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 2"))
        .withColumn("v_band", expr(
          """CASE WHEN pre_v = 0 THEN 0 WHEN pre_v < 100000 THEN 1
            |     WHEN pre_v < 1000000 THEN 2 ELSE 3 END"""
            .stripMargin.replace("\n", " ")))
        .withColumn("n_band", expr(
          "CASE WHEN pre_n < 5 THEN 0 WHEN pre_n < 10 THEN 1 ELSE 2 END"))
      val strata = users.groupBy("v_band", "n_band").agg(
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nt"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("nc"),
        sum(when(col("arm") === 1, col("outcome")).otherwise(0L)).as("st"),
        sum(when(col("arm") === 0, col("outcome")).otherwise(0L)).as("sc"))
      val matched = strata.filter(col("nt") > 0 && col("nc") > 0)
      val totals = strata.agg(count(lit(1)).as("n_strata_total"))
      matched.agg(count(lit(1)).as("n_strata_matched"),
          sum("nt").as("n_treated_matched"),
          sum("nc").as("n_control_matched"),
          sum(expr("nt * (" +
            signedDiv("st * 1000000", "nt") + " - " +
            signedDiv("sc * 1000000", "nc") + ")")).as("att_mass"))
        .crossJoin(broadcast(totals))
        .withColumn("att_fp",
          expr(signedDiv("att_mass", "n_treated_matched")))
        .select("n_strata_total", "n_strata_matched", "n_treated_matched",
          "n_control_matched", "att_fp")
    }),

    // Sharp regression discontinuity (r12, third session): does
    // crossing the 5% discount threshold JUMP the ordered quantity,
    // beyond what the linear trend on each side explains? Local
    // linear fit y = a + b·(x−c) separately for x<c and x≥c (full
    // ±5pp bandwidth), jump = a_R − a_L — the intercept gap AT the
    // cutoff (Thistlethwaite & Campbell 1960), the causal read a
    // naive above/below mean comparison biases. Scale: ONE map-side
    // conditional-moment pass (5 sums per side); both OLS closed
    // forms are exact DECIMAL(38,0)/HUGEINT rationals with SIGNED
    // toward-zero fp division; the report is ONE row.
    "sharp_rdd_discount" -> ((s, d) => {
      val m = Tables.lineitem(s, d).select(
          (expr("CAST(round(l_discount * 100) AS BIGINT)") - 5).as("xc"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("y"))
        .withColumn("r", (col("xc") >= 0).cast("int"))
        .groupBy("r").agg(count(lit(1)).as("n"),
          sum("xc").as("sx"), sum("y").as("sy"),
          sum(expr("CAST(xc AS DECIMAL(38,0)) * xc")).as("sxx"),
          sum(expr("CAST(xc AS DECIMAL(38,0)) * y")).as("sxy"))
        .withColumn("den", expr(
          "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
        .withColumn("a_fp", expr(s"""CASE WHEN den > 0 THEN ${signedDiv(
            """(CAST(sy AS DECIMAL(38,0)) * sxx
              | - CAST(sx AS DECIMAL(38,0)) * sxy) * 1000000"""
              .stripMargin.replace("\n", " "), "den")}
           |ELSE CAST(NULL AS BIGINT) END""".stripMargin.replace("\n", " "))
          .cast("long"))
        .withColumn("b_fp", expr(s"""CASE WHEN den > 0 THEN ${signedDiv(
            """(CAST(n AS DECIMAL(38,0)) * sxy
              | - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000"""
              .stripMargin.replace("\n", " "), "den")}
           |ELSE CAST(NULL AS BIGINT) END""".stripMargin.replace("\n", " "))
          .cast("long"))
      m.agg(
          sum(when(col("r") === 0, col("n"))).as("n_l"),
          sum(when(col("r") === 1, col("n"))).as("n_r"),
          sum(when(col("r") === 0, col("a_fp"))).as("a_l_fp"),
          sum(when(col("r") === 0, col("b_fp"))).as("b_l_fp"),
          sum(when(col("r") === 1, col("a_fp"))).as("a_r_fp"),
          sum(when(col("r") === 1, col("b_fp"))).as("b_r_fp"))
        .withColumn("jump_fp", expr("a_r_fp - a_l_fp"))
    }),

    // Difference-in-differences (r12, third session): BUILDING-segment
    // customers (treated) vs the rest, order revenue before vs after
    // the corpus midpoint — DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post −
    // ȳ_C,pre), the two-way design that differences away both the
    // group gap and the common time trend. The period split is the
    // INTEGER MIDPOINT of the observed orderdate span (CUPED's
    // deterministic split — no engine quantiles), broadcast as one
    // row. Scale: ONE map-side 4-cell conditional-moment pass; cell
    // means are exact fp divisions; the pooled SE folds per-cell
    // variance-of-mean as FLOOR'd IEEE leaves over exact moments and
    // the ±1.96 CI is terminal.
    "did_revenue_segments" -> ((s, d) => {
      val ords = Tables.orders(s, d)
        .join(Tables.customer(s, d).select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("seg")), "o_custkey")
        .select(
          when(col("seg") === "BUILDING", 1).otherwise(0).as("treat"),
          expr("datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')")
            .as("di"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val span = ords.agg(expr("(min(di) + max(di)) DIV 2").as("mid_di"))
      val cells = ords.crossJoin(broadcast(span))
        .withColumn("post", (col("di") > col("mid_di")).cast("int"))
        .groupBy("treat", "post")
        .agg(count(lit(1)).as("n"), sum("cents").as("sc"),
          sum(expr("CAST(cents AS DECIMAL(38,0)) * cents")).as("scc"))
        .withColumn("mean_fp", expr(
          "CAST(CAST(sc AS DECIMAL(38,0)) * 1000000 DIV n AS BIGINT)"))
        .withColumn("varmean_fp", expr(
          """CAST(FLOOR((CAST(n AS DOUBLE) * CAST(scc AS DOUBLE)
            | - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
            | / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
            | * 1000000.0) AS BIGINT)""".stripMargin.replace("\n", " ")))
      val tot = cells.agg(
        sum(expr("CASE WHEN treat = 1 AND post = 1 THEN mean_fp " +
          "WHEN treat = 1 AND post = 0 THEN -mean_fp " +
          "WHEN treat = 0 AND post = 1 THEN -mean_fp " +
          "ELSE mean_fp END")).as("did_fp"),
        sum("varmean_fp").as("var_sum_fp"))
        .withColumn("se_fp", expr(
          "CAST(FLOOR(sqrt(CAST(var_sum_fp AS DOUBLE) / 1000000.0) " +
            "* 1000000.0) AS BIGINT)"))
        .select(col("did_fp"),
          col("se_fp"),
          expr("did_fp - CAST(FLOOR(1.96 * se_fp) AS BIGINT)").as("lo_fp"),
          expr("did_fp + CAST(FLOOR(1.96 * se_fp) AS BIGINT)").as("hi_fp"))
      cells.select("treat", "post", "n", "sc", "mean_fp", "varmean_fp")
        .crossJoin(broadcast(tot))
        .orderBy("treat", "post")
    }),

    // Covariate-balance SMD table (r12, third session): the
    // randomization-check every causal readout should publish FIRST —
    // standardized mean difference (m₁−m₀)/√((s₁²+s₀²)/2) per
    // pre-treatment covariate between the md5 arms, with the
    // conventional |SMD| < 0.1 balance flag (an A/A by construction,
    // so all three covariates must flag balanced on an honest split —
    // the tripwire that catches a broken hash assignment). Scale: the
    // per-customer covariate build is one aggregate + one left join;
    // stack() unpivots the 3 covariates map-side; moments fold as
    // exact DECIMAL(38,0)/HUGEINT sums; SMD is ONE terminal IEEE
    // expression per covariate row.
    "covariate_balance_smd" -> ((s, d) => {
      val ords = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .as("spend"))
      val base = Tables.customer(s, d)
        .select(col("c_custkey"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("acctbal"))
        .join(ords, Seq("c_custkey"), "left")
        .withColumn("n_orders", coalesce(col("n_orders"), lit(0L)))
        .withColumn("spend", coalesce(col("spend"), lit(0L)))
        .withColumn("arm", expr(
          """CAST(conv(substring(md5(CAST(c_custkey AS STRING)), 1, 8),
            | 16, 10) AS BIGINT) % 2""".stripMargin.replace("\n", " ")))
      val unp = base.selectExpr("arm",
        """stack(3, 'acctbal_cents', acctbal, 'n_orders', n_orders,
          |'spend_cents', spend) AS (covariate, v)"""
          .stripMargin.replace("\n", " "))
      unp.groupBy("covariate", "arm")
        .agg(count(lit(1)).as("n"), sum("v").as("sx"),
          sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("sxx"))
        .groupBy("covariate").agg(
          sum(when(col("arm") === 0, col("n"))).as("n0"),
          sum(when(col("arm") === 1, col("n"))).as("n1"),
          sum(when(col("arm") === 0, col("sx"))).as("sx0"),
          sum(when(col("arm") === 1, col("sx"))).as("sx1"),
          sum(when(col("arm") === 0, col("sxx"))).as("sxx0"),
          sum(when(col("arm") === 1, col("sxx"))).as("sxx1"))
        .withColumn("m0_fp", expr(signedDiv(
          "CAST(sx0 AS DECIMAL(38,0)) * 1000000", "n0")).cast("long"))
        .withColumn("m1_fp", expr(signedDiv(
          "CAST(sx1 AS DECIMAL(38,0)) * 1000000", "n1")).cast("long"))
        .withColumn("smd", expr(smdSql))
        .withColumn("balanced", expr(
          "CASE WHEN smd IS NULL THEN NULL ELSE abs(smd) < 0.1 END"))
        .select("covariate", "n0", "n1", "m0_fp", "m1_fp", "smd",
          "balanced")
        .orderBy("covariate")
    }),

    // Quantile treatment effects (r12, third session): the md5-bit
    // arm's effect on order value at EVERY decile, not just the mean —
    // the distributional readout that shows whether a lift is broad
    // or concentrated in the tail (an A/A by construction here, so
    // QTE ≈ 0 at every decile is the expected read). Deciles are
    // RANK-DEFINED (percentile_disc semantics: the value at
    // ⌈q·n/10⌉) via the two-phase per-arm prefix sum over the value
    // domain — no engine quantile algorithms, no interpolation, so
    // both engines pick the identical cents. Scale: per-(arm, value)
    // counts fold map-side; the 9-point grid joins the cumulative
    // support table once.
    "quantile_treatment_effect" -> ((s, d) => {
      // r19: pin the value-domain support once (it feeds the
      // prefix-sum measuring pass, the final plan and the arm totals)
      // and derive n_arm from the support (Σc per arm) instead of a
      // second corpus pass — profiled before: ~6 single-task 0.2-0.25 s
      // executions of the orders+md5 aggregate per run. (A Spread
      // under the md5 projection was measured WORSE here — the
      // 32-task partial-agg fixed cost exceeds the 0.25 s single-task
      // map work it parallelizes at sf0.1.)
      val v = Tables.orders(s, d).select(
        expr("""CAST(conv(substring(md5(CAST(o_custkey AS STRING)), 1, 8),
               | 16, 10) AS BIGINT) % 2""".stripMargin.replace("\n", " "))
          .as("arm"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val cnt = graft.functions.Checkpoints.pin(
        v.groupBy("arm", "cents").agg(count(lit(1)).as("c")))
      val cum = graft.functions.GlobalRank
        .prefixSum(cnt, "cum", col("c"), Seq("arm"), Seq("cents"))
      val na = cnt.groupBy("arm").agg(sum("c").as("n_arm"))
      val grid = v.sparkSession.range(1, 10)
        .select(col("id").cast("long").as("q"))
      val idx = na.crossJoin(broadcast(grid))
        .withColumn("ridx", expr("(q * n_arm + 9) DIV 10"))
      val picks = cum.join(broadcast(idx), Seq("arm"))
        .filter(col("cum") >= col("ridx"))
        .groupBy("arm", "q", "n_arm").agg(min("cents").as("v"))
      val p0 = picks.filter(col("arm") === 0)
        .select(col("q"), col("n_arm").as("n0"), col("v").as("v0_cents"))
      val p1 = picks.filter(col("arm") === 1)
        .select(col("q"), col("n_arm").as("n1"), col("v").as("v1_cents"))
      p0.join(p1, "q")
        .withColumn("qte_cents", col("v1_cents") - col("v0_cents"))
        .select("q", "n0", "n1", "v0_cents", "v1_cents", "qte_cents")
        .orderBy("q")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "ips_policy_value" ->
      """WITH ev AS (
        |  SELECT CASE WHEN hour(ts) < 12 THEN 'am' ELSE 'pm' END AS x,
        |         event_type AS a,
        |         CAST(round(value * 1000) AS BIGINT) AS r
        |  FROM events),
        |nx AS (SELECT x, CAST(count(*) AS BIGINT) AS n_x FROM ev GROUP BY 1),
        |cell AS (
        |  SELECT x, a, CAST(count(*) AS BIGINT) AS n_xa,
        |         CAST(sum(r) AS BIGINT) AS s_r
        |  FROM ev GROUP BY 1, 2),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_events,
        |               CAST(sum(r) AS BIGINT) AS s_all FROM ev),
        |m AS (
        |  SELECT CAST(sum(c.s_r * n.n_x // c.n_xa) AS BIGINT) AS ips_mass
        |  FROM cell c JOIN nx n ON n.x = c.x
        |  WHERE c.a = CASE WHEN c.x = 'am' THEN 'click' ELSE 'purchase' END)
        |SELECT t.n_events,
        |       CAST(t.s_all * 1000 // t.n_events AS BIGINT)
        |         AS v_logged_mean_fp,
        |       CAST(m.ips_mass * 1000 // t.n_events AS BIGINT) AS v_ips_fp
        |FROM m CROSS JOIN tot t""".stripMargin,

    "split_conformal_interval" ->
      """WITH ev AS (
        |  SELECT event_id, event_type,
        |         CAST(round(value * 1000) AS BIGINT) AS v
        |  FROM events),
        |cal AS (SELECT * FROM ev WHERE event_id % 2 = 0),
        |tst AS (SELECT * FROM ev WHERE event_id % 2 = 1),
        |means AS (
        |  SELECT event_type,
        |         CAST(sum(v) * 1000 // count(*) AS BIGINT) AS mean_fp
        |  FROM cal GROUP BY 1),
        |calr AS (
        |  SELECT c.event_id, abs(c.v * 1000 - m.mean_fp) AS r
        |  FROM cal c JOIN means m USING (event_type)),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM calr),
        |ranked AS (
        |  SELECT r, row_number() OVER (ORDER BY r, event_id) AS rn
        |  FROM calr),
        |qhat AS (
        |  SELECT n.n_cal, r.r AS q_hat
        |  FROM ranked r CROSS JOIN nc n
        |  WHERE r.rn = (9 * (n.n_cal + 1) + 9) // 10),
        |tstr AS (
        |  SELECT abs(t.v * 1000 - m.mean_fp) AS r
        |  FROM tst t JOIN means m USING (event_type))
        |SELECT q.n_cal, CAST(count(*) AS BIGINT) AS n_test,
        |       CAST(q.q_hat AS BIGINT) AS q_hat,
        |       CAST(sum(CASE WHEN t.r <= q.q_hat THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_covered,
        |       CAST(sum(CASE WHEN t.r <= q.q_hat THEN 1 ELSE 0 END)
        |         * 1000000 // count(*) AS BIGINT) AS coverage_fp
        |FROM tstr t CROSS JOIN qhat q
        |GROUP BY q.n_cal, q.q_hat""".stripMargin,

    "coarsened_exact_matching_att" ->
      s"""WITH ev AS (
         |  SELECT user_id,
         |         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS di,
         |         CAST(round(value * 1000) AS BIGINT) AS v, event_type
         |  FROM events),
         |mind AS (SELECT min(di) AS min_di FROM ev),
         |users AS (
         |  SELECT e.user_id,
         |         CAST(sum(CASE WHEN e.di - m.min_di < 15 THEN e.v
         |              ELSE 0 END) AS BIGINT) AS pre_v,
         |         CAST(sum(CASE WHEN e.di - m.min_di < 15 THEN 1
         |              ELSE 0 END) AS BIGINT) AS pre_n,
         |         CAST(sum(CASE WHEN e.di - m.min_di >= 15
         |              AND e.event_type = 'purchase' THEN e.v
         |              ELSE 0 END) AS BIGINT) AS outcome
         |  FROM ev e CROSS JOIN mind m GROUP BY e.user_id),
         |banded AS (
         |  SELECT *,
         |         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
         |           AS BIGINT) % 2 AS arm,
         |         CASE WHEN pre_v = 0 THEN 0 WHEN pre_v < 100000 THEN 1
         |              WHEN pre_v < 1000000 THEN 2 ELSE 3 END AS v_band,
         |         CASE WHEN pre_n < 5 THEN 0 WHEN pre_n < 10 THEN 1
         |              ELSE 2 END AS n_band
         |  FROM users),
         |strata AS (
         |  SELECT v_band, n_band,
         |         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS nt,
         |         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS nc,
         |         CAST(sum(CASE WHEN arm = 1 THEN outcome ELSE 0 END)
         |           AS BIGINT) AS st,
         |         CAST(sum(CASE WHEN arm = 0 THEN outcome ELSE 0 END)
         |           AS BIGINT) AS sc
         |  FROM banded GROUP BY 1, 2),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_strata_total
         |        FROM strata),
         |m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_strata_matched,
         |         CAST(sum(nt) AS BIGINT) AS n_treated_matched,
         |         CAST(sum(nc) AS BIGINT) AS n_control_matched,
         |         CAST(sum(nt * (${signedDivDuck("st * 1000000", "nt")}
         |           - ${signedDivDuck("sc * 1000000", "nc")})) AS BIGINT)
         |           AS att_mass
         |  FROM strata WHERE nt > 0 AND nc > 0)
         |SELECT t.n_strata_total, m.n_strata_matched, m.n_treated_matched,
         |       m.n_control_matched,
         |       CAST(${signedDivDuck("m.att_mass", "m.n_treated_matched")}
         |         AS BIGINT) AS att_fp
         |FROM m CROSS JOIN tot t""".stripMargin,

    "covariate_balance_smd" ->
      s"""WITH ords AS (
         |  SELECT o_custkey AS c_custkey,
         |         CAST(count(*) AS BIGINT) AS n_orders,
         |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
         |           AS BIGINT) AS spend
         |  FROM orders GROUP BY 1),
         |base AS (
         |  SELECT c.c_custkey,
         |         CAST(round(c.c_acctbal * 100) AS BIGINT) AS acctbal,
         |         COALESCE(o.n_orders, 0) AS n_orders,
         |         COALESCE(o.spend, 0) AS spend,
         |         CAST(concat('0x', substr(md5(CAST(c.c_custkey AS VARCHAR)),
         |           1, 8)) AS BIGINT) % 2 AS arm
         |  FROM customer c LEFT JOIN ords o USING (c_custkey)),
         |unp AS (
         |  SELECT arm, 'acctbal_cents' AS covariate, acctbal AS v FROM base
         |  UNION ALL
         |  SELECT arm, 'n_orders', n_orders FROM base
         |  UNION ALL
         |  SELECT arm, 'spend_cents', spend FROM base),
         |m AS (
         |  SELECT covariate, arm, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(v) AS BIGINT) AS sx,
         |         CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS sxx
         |  FROM unp GROUP BY 1, 2),
         |one AS (
         |  SELECT covariate,
         |    CAST(sum(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n0,
         |    CAST(sum(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN arm = 0 THEN sx END) AS BIGINT) AS sx0,
         |    CAST(sum(CASE WHEN arm = 1 THEN sx END) AS BIGINT) AS sx1,
         |    sum(CASE WHEN arm = 0 THEN sxx END) AS sxx0,
         |    sum(CASE WHEN arm = 1 THEN sxx END) AS sxx1
         |  FROM m GROUP BY 1)
         |SELECT covariate, n0, n1,
         |       CAST(${signedDivDuck("sx0 * 1000000", "n0")} AS BIGINT)
         |         AS m0_fp,
         |       CAST(${signedDivDuck("sx1 * 1000000", "n1")} AS BIGINT)
         |         AS m1_fp,
         |       $smdSql AS smd,
         |       CASE WHEN $smdSql IS NULL THEN NULL
         |            ELSE abs($smdSql) < 0.1 END AS balanced
         |FROM one ORDER BY covariate""".stripMargin,

    "quantile_treatment_effect" ->
      """WITH v AS (
        |  SELECT CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)),
        |           1, 8)) AS BIGINT) % 2 AS arm,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |cnt AS (SELECT arm, cents, CAST(count(*) AS BIGINT) AS c
        |        FROM v GROUP BY 1, 2),
        |cum AS (
        |  SELECT arm, cents,
        |         CAST(sum(c) OVER (PARTITION BY arm ORDER BY cents)
        |           AS BIGINT) AS cum
        |  FROM cnt),
        |na AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_arm
        |       FROM v GROUP BY 1),
        |grid AS (SELECT CAST(q AS BIGINT) AS q FROM range(1, 10) r(q)),
        |idx AS (SELECT na.arm, g.q, na.n_arm,
        |               (g.q * na.n_arm + 9) // 10 AS ridx
        |        FROM na CROSS JOIN grid g),
        |picks AS (
        |  SELECT i.arm, i.q, i.n_arm, CAST(min(c.cents) AS BIGINT) AS v
        |  FROM idx i JOIN cum c ON c.arm = i.arm AND c.cum >= i.ridx
        |  GROUP BY 1, 2, 3)
        |SELECT p0.q, p0.n_arm AS n0, p1.n_arm AS n1,
        |       p0.v AS v0_cents, p1.v AS v1_cents,
        |       CAST(p1.v - p0.v AS BIGINT) AS qte_cents
        |FROM picks p0 JOIN picks p1 ON p1.q = p0.q
        |WHERE p0.arm = 0 AND p1.arm = 1
        |ORDER BY p0.q""".stripMargin,

    "sharp_rdd_discount" ->
      s"""WITH li AS (
         |  SELECT CAST(round(l_discount * 100) AS BIGINT) - 5 AS xc,
         |         CAST(round(l_quantity) AS BIGINT) AS y
         |  FROM lineitem),
         |m AS (
         |  SELECT CASE WHEN xc >= 0 THEN 1 ELSE 0 END AS r,
         |         CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(xc) AS BIGINT) AS sx,
         |         CAST(sum(y) AS BIGINT) AS sy,
         |         CAST(sum(CAST(xc AS HUGEINT) * xc) AS HUGEINT) AS sxx,
         |         CAST(sum(CAST(xc AS HUGEINT) * y) AS HUGEINT) AS sxy
         |  FROM li GROUP BY 1),
         |f AS (
         |  SELECT r, n,
         |         CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
         |           AS den,
         |         (CAST(sy AS HUGEINT) * sxx
         |           - CAST(sx AS HUGEINT) * sxy) * 1000000 AS anum,
         |         (CAST(n AS HUGEINT) * sxy
         |           - CAST(sx AS HUGEINT) * sy) * 1000000 AS bnum
         |  FROM m),
         |fits AS (
         |  SELECT r, n,
         |         CASE WHEN den > 0 THEN
         |           CAST(${signedDivDuck("anum", "den")} AS BIGINT)
         |         ELSE NULL END AS a_fp,
         |         CASE WHEN den > 0 THEN
         |           CAST(${signedDivDuck("bnum", "den")} AS BIGINT)
         |         ELSE NULL END AS b_fp
         |  FROM f)
         |SELECT
         |  CAST(sum(CASE WHEN r = 0 THEN n END) AS BIGINT) AS n_l,
         |  CAST(sum(CASE WHEN r = 1 THEN n END) AS BIGINT) AS n_r,
         |  CAST(sum(CASE WHEN r = 0 THEN a_fp END) AS BIGINT) AS a_l_fp,
         |  CAST(sum(CASE WHEN r = 0 THEN b_fp END) AS BIGINT) AS b_l_fp,
         |  CAST(sum(CASE WHEN r = 1 THEN a_fp END) AS BIGINT) AS a_r_fp,
         |  CAST(sum(CASE WHEN r = 1 THEN b_fp END) AS BIGINT) AS b_r_fp,
         |  CAST(sum(CASE WHEN r = 1 THEN a_fp END)
         |    - sum(CASE WHEN r = 0 THEN a_fp END) AS BIGINT) AS jump_fp
         |FROM fits""".stripMargin,

    "did_revenue_segments" ->
      """WITH ords AS (
        |  SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
        |           AS treat,
        |         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |           AS di,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |span AS (SELECT (min(di) + max(di)) // 2 AS mid_di FROM ords),
        |cells AS (
        |  SELECT o.treat,
        |         CASE WHEN o.di > s.mid_di THEN 1 ELSE 0 END AS post,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(o.cents) AS BIGINT) AS sc,
        |         CAST(sum(CAST(o.cents AS HUGEINT) * o.cents) AS HUGEINT)
        |           AS scc
        |  FROM ords o CROSS JOIN span s GROUP BY 1, 2),
        |cm AS (
        |  SELECT treat, post, n, sc,
        |         CAST(CAST(sc AS HUGEINT) * 1000000 // n AS BIGINT)
        |           AS mean_fp,
        |         CAST(FLOOR((CAST(n AS DOUBLE) * CAST(scc AS DOUBLE)
        |           - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
        |           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |              * (CAST(n AS DOUBLE) - 1.0))
        |           * 1000000.0) AS BIGINT) AS varmean_fp
        |  FROM cells),
        |tot AS (
        |  SELECT CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN mean_fp
        |           WHEN treat = 1 AND post = 0 THEN -mean_fp
        |           WHEN treat = 0 AND post = 1 THEN -mean_fp
        |           ELSE mean_fp END) AS BIGINT) AS did_fp,
        |         CAST(sum(varmean_fp) AS BIGINT) AS var_sum_fp
        |  FROM cm),
        |tz AS (
        |  SELECT did_fp,
        |         CAST(FLOOR(sqrt(CAST(var_sum_fp AS DOUBLE) / 1000000.0)
        |           * 1000000.0) AS BIGINT) AS se_fp
        |  FROM tot)
        |SELECT cm.treat, cm.post, cm.n, cm.sc, cm.mean_fp, cm.varmean_fp,
        |       tz.did_fp, tz.se_fp,
        |       CAST(tz.did_fp - FLOOR(1.96 * tz.se_fp) AS BIGINT) AS lo_fp,
        |       CAST(tz.did_fp + FLOOR(1.96 * tz.se_fp) AS BIGINT) AS hi_fp
        |FROM cm CROSS JOIN tz ORDER BY cm.treat, cm.post""".stripMargin,
  )
}
