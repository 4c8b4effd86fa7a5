package graft.operators

import graft.{OpGroup, Tables}
import graft.Det.{signedFpDiv, signedFpDivDuck, fp6}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series correlation structure + cohort value curves (round-10
  * widening, fourth session): the autocorrelation profile of the daily
  * event series (is today's volume predicted by yesterday's / last
  * week's), the Ljung–Box portmanteau statistic over those lags (is
  * the series white noise at all — the pre-forecasting sanity gate),
  * and the cohort LTV curve over orders (cumulative revenue by
  * acquisition cohort and age — the retention economics report).
  *
  * Determinism & scale design:
  *   - The daily series is CALENDAR-bounded: the event stream collapses
  *     to per-day counts map-side; everything after operates on the
  *     ≤|days| array (the Theil–Sen/Kendall array-expansion precedent —
  *     one bounded row, no self-join, no whole-partition window). Day
  *     alignment is by ABSOLUTE day number (epoch datediff), so lag
  *     pairs align on the calendar even across gaps.
  *   - Deviations are pre-scaled integers: dd_t = N·x_t − S (N days, S
  *     total events) — the ×N clears the rational mean, so ACF numerators
  *     and denominator are exact int64 sums (documented envelope:
  *     |dd| ≤ 3e9, i.e. ~1e8 events/day before a DECIMAL lift is
  *     needed); r_k = num_k/den is one signed fixed-point division with
  *     explicit toward-zero truncation on both engines.
  *   - Ljung–Box terms are FLOOR-fixed-pointed at the leaf (one IEEE
  *     expression over exact ints per lag, identical text both
  *     engines) and integer-summed.
  *   - The LTV cube is (cohorts × ages) — calendar² bounded — built
  *     from ONE map-side-combinable aggregation of orders; the
  *     cumulative-over-age window runs on that tiny cube, never on the
  *     fact table.
  */
object SeriesStatOps extends OpGroup {

  private val MaxLag = 7

  /** Shared-text Dickey–Fuller leaves over the exact regression
    * moments (n, sx, sy, sxx, sxy, syy, den) — β̂ and its t-ratio,
    * every operand cast to DOUBLE before a literal touches it.
    */
  private[operators] val adfBetaS =
    "((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / CAST(den AS DOUBLE))"
  private[operators] val adfSseS =
    s"((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)" +
      s" - $adfBetaS * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n))"
  private[operators] val adfTS =
    s"($adfBetaS / sqrt(($adfSseS / (n - 2))" +
      s" / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)))"
  private[operators] val adfGuard = s"n >= 4 AND den > 0 AND $adfSseS > 0.0"

  /** Shared-text Cook's D leaf over the exact per-day residual/leverage
    * integers (ei, g2) and moments (n, bden, sse) — the (n·bden)²
    * scale cancels between e², s² and SSE.
    */
  private val cooksHS =
    "(1.0 / n + CAST(g2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(bden AS DOUBLE)))"
  private[operators] val cooksDS =
    s"(CAST(ei AS DOUBLE) * CAST(ei AS DOUBLE) * $cooksHS * (n - 2)" +
      s" / (2.0 * CAST(sse AS DOUBLE) * (1.0 - $cooksHS) * (1.0 - $cooksHS)))"

  /** Runs-test z over exact counts (runs R, m kept days, n_above,
    * n_below): (R − μ)/σ with μ = 2·n₁n₀/m + 1 and
    * σ² = 2n₁n₀(2n₁n₀−m)/(m²(m−1)) — ONE IEEE expression, identical
    * text both engines, NULL-armed when one side is empty or the
    * variance degenerates (n₁ = n₀ = 1 ⇒ 2n₁n₀ = m).
    */
  private val runsZSql: String =
    """CASE WHEN n_above = 0 OR n_below = 0
      |  OR 2 * n_above * n_below = m THEN CAST(NULL AS DOUBLE)
      |ELSE round((CAST(runs AS DOUBLE)
      |    - (2.0 * n_above * n_below / m + 1.0))
      |  / sqrt(2.0 * n_above * n_below * (2.0 * n_above * n_below - m)
      |    / (CAST(m AS DOUBLE) * m * (m - 1))), 6) END"""
      .stripMargin.replace("\n", " ")

  /** The daily series as one array row: a = sorted [(di, x)], with
    * n_days and s_tot alongside. di is days since epoch.
    */
  private def dailyArray(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')").as("di"))
      .agg(count(lit(1)).as("x"))
      .agg(sort_array(collect_list(struct(col("di"), col("x")))).as("a"))
      .select(col("a"), size(col("a")).cast("long").as("n_days"),
        expr("aggregate(a, CAST(0 AS BIGINT), (acc, e) -> acc + e.x)")
          .as("s_tot"))

  /** Per-lag exact numerators over the array (lag = calendar day
    * difference, ≤ MaxLag), plus the shared denominator.
    */
  private def acfTerms(s: SparkSession, d: String): DataFrame = {
    val base = dailyArray(s, d)
      .filter(size(col("a")) >= 2)
      .withColumn("den", expr(
        """aggregate(a, CAST(0 AS BIGINT), (acc, e) ->
          |  acc + (n_days * e.x - s_tot) * (n_days * e.x - s_tot))"""
          .stripMargin.replace("\n", " ")))
      .select(col("n_days"), col("s_tot"), col("den"),
        explode(expr(
          s"""flatten(transform(sequence(0, size(a) - 2), i ->
             |  filter(transform(sequence(i + 1,
             |      least(i + $MaxLag, size(a) - 1)), j ->
             |    named_struct('lag', a[j].di - a[i].di,
             |      'prod', (n_days * a[i].x - s_tot)
             |            * (n_days * a[j].x - s_tot))),
             |    p -> p.lag <= $MaxLag)))"""
            .stripMargin.replace("\n", " "))).as("p"))
    base.groupBy(col("n_days"), col("den"),
        col("p.lag").cast("long").as("lag"))
      .agg(count(lit(1)).as("n_terms"), sum("p.prod").as("num"))
  }

  /** The Holt–Winters integer recurrence on the collected daily
    * series (day, n): 1e-6 fixed point, plain Long `/`
    * (toward-zero) throughout — MEASURED to match DuckDB's `//`,
    * which also truncates toward zero on negatives (-7//2 = -3).
    * Returns (day, n, level, trend, season, fitted, resid) for each
    * day from the 8th observed on; empty below 14 observed days.
    */
  private def holtWinters(xs: Array[(Long, Long)])
      : Seq[(Long, Long, Long, Long, Long, Long, Long)] = {
    if (xs.length < 14) return Seq.empty
    val xfp = xs.map(_._2 * 1000000L)
    val mean1 = xfp.slice(0, 7).sum / 7L
    val mean2 = xfp.slice(7, 14).sum / 7L
    var l = mean1
    var b = (mean2 - mean1) / 7L
    val ring = scala.collection.mutable.Queue(
      xfp.slice(0, 7).map(_ - mean1).toSeq: _*)
    (7 until xs.length).map { t =>
      val sOld = ring.dequeue()
      val lPrev = l; val bPrev = b
      val fitted = lPrev + bPrev + sOld
      val resid = xfp(t) - fitted
      l = (3L * (xfp(t) - sOld) + 7L * (lPrev + bPrev)) / 10L
      b = ((l - lPrev) + 9L * bPrev) / 10L
      val sNew = (2L * (xfp(t) - lPrev - bPrev) + 8L * sOld) / 10L
      ring.enqueue(sNew)
      (xs(t)._1, xs(t)._2, l, b, sNew, fitted, resid)
    }
  }

  /** Croston's integer recurrence (1972) on the collected demand
    * series (day, z>0): α=1/5 SES on both the demand size and the
    * calendar-day interval, 1e-6 fixed point, plain Long `/`
    * (toward-zero — matches DuckDB `//`, measured). Seed: ẑ = z₁,
    * p̂ = 1.0 at the first demand point; updates (and output rows)
    * start at the second. Returns (day, z, q, ẑ_fp, p̂_fp,
    * croston_fp = ẑ/p̂, sba_fp = (1−α/2)·ẑ/p̂); empty below 2
    * demand points.
    */
  private def croston(xs: Array[(Long, Long)])
      : Seq[(Long, Long, Long, Long, Long, Long, Long)] = {
    if (xs.length < 2) return Seq.empty
    var zhat = xs(0)._2 * 1000000L
    var phat = 1000000L
    (1 until xs.length).map { i =>
      val q = xs(i)._1 - xs(i - 1)._1
      zhat = (xs(i)._2 * 1000000L + 4L * zhat) / 5L
      phat = (q * 1000000L + 4L * phat) / 5L
      val cr = (BigInt(zhat) * 1000000 / phat).toLong
      val sba = (BigInt(zhat) * 900000 / phat).toLong
      (xs(i)._1, xs(i)._2, q, zhat, phat, cr, sba)
    }
  }

  /** Big-ticket demand threshold for the Croston series: purchases
    * with value above this are "demand events"; the daily count is
    * the intermittent series (4 demand days at sf0.001, 21 at
    * sf0.01 — genuinely sparse at the fixture scales).
    */
  private val CrostonValueMin = 200.0

  /** Periodogram period grid (days). Weekly structure ⇒ the p=7 cell
    * should carry the peak share on the event fixture.
    */
  private val Periods = 2 to 10

  /** cos/sin(2πk/p) as 1e-6 fixed-point Long CONSTANTS, truncated
    * toward zero — generated HERE and injected verbatim into both the
    * Spark plan and the DuckDB oracle text (the gumbelC shared-
    * constant recipe), so no engine ever evaluates a trig function
    * and the whole periodogram stays pure integer.
    */
  private val trigFp: Seq[(Int, Int, Long, Long)] =
    Periods.flatMap { p =>
      (0 until p).map { k =>
        val a = 2.0 * math.Pi * k / p
        (p, k, (math.cos(a) * 1e6).toLong, (math.sin(a) * 1e6).toLong)
      }
    }

  private def trigValuesSql: String =
    trigFp.map { case (p, k, c, s) => s"($p, $k, $c, $s)" }.mkString(", ")

  /** cos/sin(2πh/24) for h = 0..23 as 1e-6 fixed-point Long constants
    * (trigFp convention) — the hour-of-day circle for the circular
    * statistics below; injected verbatim into both engines.
    */
  private val hourFp: Seq[(Int, Long, Long)] =
    (0 until 24).map { h =>
      val a = 2.0 * math.Pi * h / 24.0
      (h, (math.cos(a) * 1e6).toLong, (math.sin(a) * 1e6).toLong)
    }

  private def hourValuesSql: String =
    hourFp.map { case (h, c, s) => s"($h, $c, $s)" }.mkString(", ")

  /** The generalized-ESD rounds on the collected daily series: exact
    * BigInt moments per round, R = md/√(nqss·n/(n−1)) as the SAME
    * IEEE op sequence the DuckDB oracle runs, argmax ties to the
    * smallest day. Stops at n < 4 or zero variance (constant set).
    */
  private def gesdRounds(xs: Array[(Long, Long)], rounds: Int)
      : Seq[(Long, Long, Long, Long, Long)] = {
    val kept = scala.collection.mutable.ArrayBuffer(xs: _*)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long)]
    var it = 1
    var go = true
    while (go && it <= rounds) {
      val n = kept.length.toLong
      val s = kept.iterator.map(t => BigInt(t._2)).sum
      val q = kept.iterator.map(t => BigInt(t._2) * t._2).sum
      val nqss = BigInt(n) * q - s * s
      if (n < 4 || nqss <= 0) go = false
      else {
        val best = kept.minBy(t => ((BigInt(n) * t._2 - s).abs * -1, t._1))
        val md = (BigInt(n) * best._2 - s).abs
        val rFp = math.floor(md.toDouble
          / math.sqrt(nqss.toDouble * n / (n - 1.0)) * 1000000.0).toLong
        out += ((it.toLong, best._1, best._2, n, rFp))
        kept -= best
        it += 1
      }
    }
    out.toSeq
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ACF at lags 1..7 of the daily event-count series.
    "autocorrelation_profile" -> ((s, d) => {
      acfTerms(s, d)
        .withColumn("r_fp", expr(signedFpDiv("num", "den")))
        .select("lag", "n_terms", "num", "den", "r_fp")
        .orderBy("lag")
    }),

    // Ljung–Box portmanteau Q over the same lags: each lag's term
    // N(N+2)·r_k²/(N−k) FLOOR-fixed-pointed at the leaf from the exact
    // integer (num, den), then summed.
    "ljung_box_q" -> ((s, d) => {
      acfTerms(s, d)
        .withColumn("term_fp", expr(
          """CAST(FLOOR(n_days * (n_days + 2)
            | * (CAST(num AS DOUBLE) / den) * (CAST(num AS DOUBLE) / den)
            | / (n_days - lag) * 1000000.0) AS BIGINT)"""
            .stripMargin.replace("\n", " ")))
        .groupBy("n_days")
        .agg(count(lit(1)).as("n_lags"), sum("term_fp").as("q_fp"))
        .select("n_days", "n_lags", "q_fp")
    }),

    // Pettitt changepoint test (r12, fourth session; Pettitt 1979):
    // the rank-based single-changepoint locator over the daily
    // event-value series — U_t = Σ_{i≤t}Σ_{j>t} sgn(v_i − v_j), the
    // cut maximizing |U| is where the level shifted (no distributional
    // assumption, outlier-robust — the read a mean-split CUSUM
    // distorts). Scale: the series is CALENDAR-bounded, so the whole
    // test runs as nested higher-order folds over ONE collected-array
    // row (the Theil–Sen/ACF expansion precedent — |days|³ integer
    // ops inside one expression, no self-join, no window); sgn
    // arithmetic is exact int64, ties broken to the SMALLEST day.
    "pettitt_changepoint" -> ((s, d) => {
      val dailyV = Tables.events(s, d)
        .groupBy(expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')")
          .as("di"))
        .agg(sum(expr("CAST(round(value * 1000) AS BIGINT)")).as("v"))
      val arr = dailyV
        .agg(expr("sort_array(collect_list(named_struct('di', di, 'v', v)))")
          .as("a"))
        .withColumn("n", size(col("a")))
      val u = arr.select(explode(expr(
        """transform(sequence(0, n - 2), t ->
          |  named_struct('day', CAST(a[t].di AS BIGINT),
          |    'u', aggregate(sequence(0, t), CAST(0 AS BIGINT), (acc, i) ->
          |      acc + aggregate(sequence(t + 1, n - 1), CAST(0 AS BIGINT),
          |        (acc2, j) -> acc2 + CASE WHEN a[i].v > a[j].v THEN 1
          |          WHEN a[i].v < a[j].v THEN -1 ELSE 0 END))))"""
          .stripMargin.replace("\n", " "))).as("p"))
        .select(col("p.day").as("day"), col("p.u").as("u_stat"))
        .withColumn("abs_u", abs(col("u_stat")))
      val k = u.agg(max("abs_u").as("k_stat"))
      val cp = u.crossJoin(broadcast(k))
        .filter(col("abs_u") === col("k_stat"))
        .agg(min("day").as("cp_day"))
      u.crossJoin(broadcast(k)).crossJoin(broadcast(cp))
        .select(col("day"), col("u_stat"), col("abs_u"),
          expr("""CAST(CASE WHEN abs_u = k_stat AND day = cp_day
                 | THEN 1 ELSE 0 END AS BIGINT)"""
            .stripMargin.replace("\n", " ")).as("is_cp"))
        .orderBy("day")
    }),

    // Additive Holt–Winters triple exponential smoothing over the
    // daily event-count series (r12, fourth session; Holt 1957 /
    // Winters 1960), weekly season m=7, α=3/10 β=1/10 γ=2/10 as EXACT
    // rational sum-then-floor-divide updates: l ← (3(x−s₋₇)+7(l+b))/10
    // etc., all in 1e-6 integer fixed point (signed
    // divisions truncate toward zero — Scala `/` and DuckDB `//`
    // agree, measured) — the in-sample one-step-ahead fit/residual
    // table a volume forecaster reads.
    // Scale: ONE map-side daily aggregate (calendar-bounded axis);
    // the 9-value recurrence state (l, b, 7-slot season ring) runs on
    // COLLECTED bounded model state (stationaryPi precedent) in pure
    // Long arithmetic — Scala's toward-zero `/` matches DuckDB's `//`
    // (measured: -7 // 2 = -3, truncation, NOT floor) on the signed
    // season/trend values, and the oracle replays the SAME
    // integer recurrence as a recursive CTE carrying the ring as a
    // LIST column. Init: l = mean(week 1), b = (mean(week 2) −
    // mean(week 1))/7, s = week-1 deviations; < 14 observed days ⇒
    // empty result on both engines.
    "holt_winters_daily" -> ((s, d) => {
      val xs = Tables.events(s, d)
        .groupBy(expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')")
          .as("di"))
        .agg(count(lit(1)).as("x"))
        .orderBy("di").collect()
        .map(r => (r.getInt(0).toLong, r.getLong(1)))
      import s.implicits._
      holtWinters(xs).toDF("day", "n", "level_fp", "trend_fp",
        "season_fp", "fitted_fp", "resid_fp").orderBy("day")
    }),

    // Wald–Wolfowitz runs test (r12, fifth session; Wald & Wolfowitz
    // 1940): is the daily event volume RANDOM around its median, or
    // does it cluster (trends/regimes ⇒ too few runs; oscillation ⇒
    // too many)? The distribution-free randomness gate a forecaster
    // runs before trusting an i.i.d. assumption — the complement of
    // the ACF/Ljung–Box panel above (those measure LINEAR lag
    // correlation; runs sees any sign-pattern structure). Median is
    // the RANK-DEFINED lower median of the daily counts (sorted-array
    // pick, no engine quantiles); equal-to-median days are EXCLUDED
    // (the standard convention); runs count over the surviving
    // day-ordered ±1 sequence; z is ONE shared-text IEEE expression
    // over the exact counts (NULL-armed at one-sided or
    // zero-variance sequences). Scale: the series is calendar-bounded
    // — one map-side daily aggregate, then every step (median pick,
    // sign sequence, adjacent-flip fold) runs as HOFs on the ONE
    // collected-array row (theil_sen/ACF class); nothing downstream
    // of the daily rollup is data-proportional.
    "runs_test_daily" -> ((s, d) => {
      dailyArray(s, d)
        .filter(size(col("a")) >= 2)
        .withColumn("median_x", expr(
          "sort_array(transform(a, e -> e.x))[CAST((n_days - 1) DIV 2 AS INT)]"))
        .withColumn("sgn", expr(
          """transform(filter(a, e -> e.x != median_x),
            |  e -> CASE WHEN e.x > median_x THEN 1 ELSE 0 END)"""
            .stripMargin.replace("\n", " ")))
        .withColumn("m", expr("CAST(size(sgn) AS BIGINT)"))
        .withColumn("n_above", expr(
          "CAST(aggregate(sgn, 0, (acc, v) -> acc + v) AS BIGINT)"))
        .withColumn("n_below", expr("m - n_above"))
        .withColumn("runs", expr(
          """CASE WHEN size(sgn) = 0 THEN CAST(0 AS BIGINT)
            | WHEN size(sgn) = 1 THEN CAST(1 AS BIGINT)
            | ELSE 1 + CAST(aggregate(sequence(1, size(sgn) - 1), 0,
            |   (acc, i) -> acc + CASE WHEN sgn[i] != sgn[i - 1]
            |     THEN 1 ELSE 0 END) AS BIGINT) END"""
            .stripMargin.replace("\n", " ")))
        .select(col("n_days"), col("median_x").cast("long").as("median_x"),
          col("n_above"), col("n_below"), col("runs"),
          expr(runsZSql).as("z_val"))
    }),

    // LZ78 complexity of the daily volume sign sequence (r12, fifth
    // session; Ziv & Lempel 1978): parse the above/below-median
    // binary string into its incremental phrase dictionary — the
    // compression-based structure read that catches REGIME repetition
    // (few long phrases ⇒ compressible ⇒ structured) where SampEn
    // sees only fixed-length templates and runs only sign flips. The
    // parse is deterministic and integer (dictionary membership);
    // only the ln(n)/n normalization is an IEEE leaf. Scale:
    // calendar-bounded — the daily rollup is map-side; the ≤|days|-
    // step parse runs on COLLECTED bounded state (stationaryPi
    // precedent), and the oracle replays the SAME parse as a
    // recursive CTE over the string. Median is the runs_test lower-
    // median convention; equal-to-median days read '0' (documented).
    "lz78_complexity_daily" -> ((s, d) => {
      val xs = Tables.events(s, d)
        .groupBy(expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')")
          .as("di"))
        .agg(count(lit(1)).as("x"))
        .orderBy("di").collect()
        .map(r => (r.getInt(0).toLong, r.getLong(1)))
      import s.implicits._
      if (xs.length < 2) Seq.empty[(Long, Long, Long)]
        .toDF("n_days", "n_phrases", "c_norm_fp")
      else {
        val med = xs.map(_._2).sorted.apply((xs.length - 1) / 2)
        val seq0 = xs.map(t => if (t._2 > med) '1' else '0')
        var dict = Set.empty[String]
        var cur = ""
        var phrases = 0L
        seq0.foreach { ch =>
          val cand = cur + ch
          if (dict.contains(cand)) cur = cand
          else { dict += cand; phrases += 1; cur = "" }
        }
        if (cur.nonEmpty) phrases += 1
        val n = xs.length.toLong
        val cFp = math.floor(
          phrases * math.log(n.toDouble) / n * 1000000.0).toLong
        Seq((n, phrases, cFp)).toDF("n_days", "n_phrases", "c_norm_fp")
      }
    }),

    // Poisson dispersion test of the daily volume (r12, fifth
    // session; Fisher 1950 §"index of dispersion"): the χ² statistic
    // D = Σ(x−x̄)²/x̄ = (nQ−S²)/S and the variance-to-mean ratio —
    // the FIRST question about any count series (VMR≈1 Poisson,
    // >1 clustered/bursty, <1 regularized), read before any model
    // that assumes Poisson arrivals. Everything is an exact integer
    // rational off the ONE map-side (n, S, Q) moment pass —
    // DECIMAL(38,0)/HUGEINT lifts, non-negative floored divisions.
    "poisson_dispersion_daily" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')")
          .as("di"))
        .agg(count(lit(1)).as("x"))
        .agg(count(lit(1)).as("n"), sum("x").as("s"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("q"))
        .filter(col("n") >= 2 && col("s") > 0)
        .withColumn("nqss", expr(
          "CAST(n AS DECIMAL(38,0)) * q - CAST(s AS DECIMAL(38,0)) * s"))
        .select(col("n").as("n_days"), col("s").as("n_events"),
          expr("CAST(CAST(s AS DECIMAL(38,0)) * 1000000 DIV n AS BIGINT)")
            .as("mean_fp"),
          expr("""CAST(nqss * 1000000
                 | DIV (CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)"""
            .stripMargin.replace("\n", " ")).as("var_fp"),
          expr("CAST(nqss * 1000000 DIV CAST(s AS DECIMAL(38,0)) AS BIGINT)")
            .as("dispersion_fp"),
          expr("""CAST(nqss * 1000000
                 | DIV (CAST(s AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)"""
            .stripMargin.replace("\n", " ")).as("vmr_fp"))
    }),

    // Negative-binomial method-of-moments fit (r13) of the daily
    // volume: poisson_dispersion_daily FLAGS overdispersion, this
    // SIZES it — r = m²/(v−m) (shape) and p = m/v (success prob), the
    // NB(r,p) that matches the observed mean/variance (the count
    // model a capacity planner actually simulates from once Poisson
    // is rejected). ENTIRELY integer: both parameters reduce to
    // rationals of the exact moment sums — r = s²(n−1)/(n·(nqss −
    // s(n−1))), p = s(n−1)/nqss — one truncating DECIMAL(38,0)
    // division each; NULL-armed when v ≤ m (no NB fit exists).
    // Scale: the SAME one map-side daily aggregate; everything
    // downstream is one row.
    "negbin_fit_daily" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')")
          .as("di"))
        .agg(count(lit(1)).as("x"))
        .agg(count(lit(1)).as("n"), sum("x").as("s"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("q"))
        .filter(col("n") >= 2 && col("s") > 0)
        .withColumn("nqss", expr(
          "CAST(n AS DECIMAL(38,0)) * q - CAST(s AS DECIMAL(38,0)) * s"))
        .withColumn("over", expr(
          "nqss - CAST(s AS DECIMAL(38,0)) * (n - 1)"))
        .select(col("n").as("n_days"), col("s").as("n_events"),
          expr("""CASE WHEN over > 0 THEN
                 |CAST(CAST(s AS DECIMAL(38,0)) * s * (n - 1) * 1000000
                 |  DIV (CAST(n AS DECIMAL(38,0)) * over) AS BIGINT)
                 |ELSE CAST(NULL AS BIGINT) END"""
            .stripMargin.replace("\n", " ")).as("r_fp"),
          expr("""CASE WHEN over > 0 THEN
                 |CAST(CAST(s AS DECIMAL(38,0)) * (n - 1) * 1000000
                 |  DIV nqss AS BIGINT)
                 |ELSE CAST(NULL AS BIGINT) END"""
            .stripMargin.replace("\n", " ")).as("p_fp"))
    }),

    // Circular hour-of-day statistics per event type (r13; Mardia &
    // Jupp 2000): resultant length R̄ (0 = uniform around the clock,
    // 1 = a single spike) and the Rayleigh uniformity statistic
    // z = n·R̄², plus the peak hour — the diurnal-concentration read
    // behind batching/cron decisions that a LINEAR hour histogram
    // distorts (23:00 and 01:00 are 2 h apart on the circle, 22 on
    // the line). cos/sin enter as the shared 1e-6 fixed-point hourFp
    // constants (periodogram recipe — neither engine evaluates trig):
    // the vector sums are exact integers, z is an EXACT rational
    // (c²+s²)/(n·1e6), and R̄ is the lone shared-text √ leaf.
    // Scale: ONE map-side (type, hour)-keyed count (|types|×24
    // bounded), constants join broadcast; nothing downstream is
    // data-proportional.
    "circular_hour_stats" -> ((s, d) => {
      import s.implicits._
      val hourDf = hourFp.toDF("h", "cfp", "sfp")
      val byHour = Tables.events(s, d)
        .groupBy(col("event_type"), expr("hour(ts)").as("h"))
        .agg(count(lit(1)).as("cnt"))
        .join(broadcast(hourDf), Seq("h"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("cnt").desc, col("h"))
      val peak = byHour
        .withColumn("pr", row_number().over(w))
        .filter(col("pr") === 1)
        .select(col("event_type"), col("h").as("peak_hour"),
          col("cnt").as("peak_cnt"))
      byHour.groupBy("event_type")
        .agg(sum("cnt").as("n"),
          sum(expr("CAST(cnt AS DECIMAL(38,0)) * cfp")).as("c"),
          sum(expr("CAST(cnt AS DECIMAL(38,0)) * sfp")).as("s"))
        .join(peak, "event_type")
        .select(col("event_type"), col("n"),
          col("peak_hour").cast("long").as("peak_hour"),
          expr("peak_cnt * 1000000 DIV n").as("peak_share_fp"),
          expr("""CAST(FLOOR(sqrt(CAST(c * c + s * s AS DOUBLE))
                 | / (CAST(n AS DOUBLE) * 1000000.0)
                 | * 1000000.0) AS BIGINT)"""
            .stripMargin.replace("\n", " ")).as("rbar_fp"),
          expr("CAST((c * c + s * s) DIV (CAST(n AS DECIMAL(38,0))"
            + " * 1000000) AS BIGINT)").as("rayleigh_z_fp"))
        .orderBy("event_type")
    }),

    // Kendall's coefficient of concordance W (r13; Kendall & Babington
    // Smith 1939) — do the event types AGREE on the weekday ordering?
    // Each type ranks the 7 weekdays by volume; W = 12S/(k²n(n²−1))
    // ∈ [0,1] (1 = identical rankings) is the agreement read behind
    // trusting ONE pooled weekday profile (weekday_seasonality_
    // profile) for all event types. Ranks are DISTINCT by the pinned
    // (count, dow) tie-break on both engines, so S and W are EXACT
    // integer rationals; Friedman's χ²_r = k(n−1)W rides the same
    // integers. Scale: ONE map-side (type × dow) count into a
    // 5×7-bounded rank/agg ladder; the weekday window partitions by
    // event_type (never partition-less).
    "kendall_w_concordance" -> ((s, d) => {
      val cells = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("(unix_micros(ts) DIV 86400000000 + 4) % 7").as("dow"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("cnt"), col("dow"))
      val rsums = cells.withColumn("rk", row_number().over(w))
        .groupBy("dow").agg(count(lit(1)).as("k"), sum("rk").as("rj"))
      rsums.agg(max("k").as("k"), count(lit(1)).as("n"),
          sum(expr("CAST(rj AS DECIMAL(38,0)) * rj")).as("rj2"),
          sum(col("rj").cast("decimal(38,0)")).as("rjs"))
        .select(col("k"), col("n"),
          // S = Σ(R_j − k(n+1)/2)² = ΣR_j² − (ΣR_j)²/n exactly
          // (ΣR_j = kn(n+1)/2 is divisible by n when ranks partition)
          expr("rj2 - (rjs * rjs) DIV n").as("s_dec"))
        .select(col("k"), col("n"),
          col("s_dec").cast("long").as("s_stat"),
          expr("""CAST(CAST(s_dec AS DECIMAL(38,0)) * 12 * 1000000
                 | DIV (CAST(k AS DECIMAL(38,0)) * k * n * (n * n - 1))
                 | AS BIGINT)""".stripMargin.replace("\n", " "))
            .as("w_fp"),
          expr("""CAST(CAST(s_dec AS DECIMAL(38,0)) * 12 * (n - 1) * 1000000
                 | DIV (CAST(k AS DECIMAL(38,0)) * n * (n * n - 1))
                 | AS BIGINT)""".stripMargin.replace("\n", " "))
            .as("friedman_chi2_fp"))
    }),

    // Partial autocorrelation function (r12, fifth session; Durbin
    // 1960; Levinson 1947): PACF at lags 1..7 from the EXACT ACF via
    // the Durbin–Levinson recursion — the AR-order identification
    // read (an AR(p) series has PACF ≈ 0 past lag p) the raw ACF
    // panel above can't give, since AR(1) alone makes every ACF lag
    // non-zero. Determinism: the recursion runs entirely in 1e-6
    // fixed point with toward-zero division at every product and
    // ratio (Scala Long `/` = DuckDB `//`, the measured holt_winters
    // convention), seeded from the SAME signedFpDiv ACF values the
    // autocorrelation_profile query emits; the oracle replays the
    // identical integer recursion as a recursive CTE carrying the
    // φ-triangle row as a LIST. Lags restricted to the CONTIGUOUS
    // prefix present in the calendar (a gapped lag would shift the
    // recursion); degenerate denominator (≤0) stops both engines.
    // Scale: the ACF pass is the calendar-bounded HOF fold above;
    // the recursion is ≤7-step bounded model state (stationaryPi
    // precedent).
    "pacf_durbin_levinson" -> ((s, d) => {
      val acf = acfTerms(s, d)
        .select(col("lag"), expr(signedFpDiv("num", "den")).as("r_fp"))
        .orderBy("lag").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val maxL = (1 to MaxLag).takeWhile(k => acf.contains(k.toLong)).size
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      if (maxL >= 1) {
        var phi = Vector(acf(1L))
        out += ((1L, phi(0)))
        var k = 1
        var go = true
        while (go && k < maxL) {
          val num = acf((k + 1).toLong) -
            (1 to k).map(j => phi(j - 1) * acf((k + 1 - j).toLong)
              / 1000000L).sum
          val den = 1000000L -
            (1 to k).map(j => phi(j - 1) * acf(j.toLong) / 1000000L).sum
          if (den <= 0) go = false
          else {
            val pn = if (num >= 0) num * 1000000L / den
              else -((-num) * 1000000L / den)
            phi = (1 to k).map(j =>
              phi(j - 1) - pn * phi(k - j) / 1000000L).toVector :+ pn
            k += 1
            out += ((k.toLong, pn))
          }
        }
      }
      import s.implicits._
      out.toSeq.toDF("lag", "pacf_fp").orderBy("lag")
    }),

    // Sample entropy of the daily series (r12, fifth session; Richman
    // & Moorman 2000), m=2, r=0.2σ: the regularity read — do 2-day
    // volume patterns that match keep matching on the 3rd day?
    // SampEn = ln(B/A) where B counts template pairs matching at
    // length 2 and A at length 3 (A ⊆ B ⇒ SampEn ≥ 0); low = the
    // series repeats itself (forecastable regimes), high = pattern-
    // free. EXACT matching: the tolerance test |xᵢ−xⱼ| ≤ 0.2σ squares
    // to the INTEGER predicate 25·(xᵢ−xⱼ)²·n(n−1) ≤ nQ−S² (population
    // σ cleared of both the division and the sqrt), so pair counts
    // are exact on both engines; only the final ln(B/A) is an IEEE
    // leaf. Scale: calendar-bounded — the |days|² template scan runs
    // as nested HOFs on the ONE collected-array row (pettitt class);
    // envelope: exact to ~1e6 events/day in int64. Template starts
    // [0, n−3] (the shared m/m+1 start set), n ≥ 4.
    "sample_entropy_daily" -> ((s, d) => {
      def p(i: String, j: String) =
        s"""25 * (xs[$i] - xs[$j]) * (xs[$i] - xs[$j])
           | * n_days * (n_days - 1) <= nqss""".stripMargin
          .replace("\n", " ")
      dailyArray(s, d).filter(size(col("a")) >= 4)
        .withColumn("xs", expr("transform(a, e -> e.x)"))
        .withColumn("nqss", expr(
          """n_days * aggregate(xs, CAST(0 AS BIGINT),
            | (acc, v) -> acc + v * v) - s_tot * s_tot"""
            .stripMargin.replace("\n", " ")))
        .filter(col("nqss") > 0)
        .withColumn("b_cnt", expr(
          s"""aggregate(sequence(0, CAST(n_days AS INT) - 4),
             | CAST(0 AS BIGINT), (acc, i) ->
             | acc + aggregate(sequence(i + 1, CAST(n_days AS INT) - 3),
             |   CAST(0 AS BIGINT), (a2, j) ->
             |   a2 + CASE WHEN ${p("i", "j")} AND ${p("i + 1", "j + 1")}
             |     THEN 1 ELSE 0 END))""".stripMargin.replace("\n", " ")))
        .withColumn("a_cnt", expr(
          s"""aggregate(sequence(0, CAST(n_days AS INT) - 4),
             | CAST(0 AS BIGINT), (acc, i) ->
             | acc + aggregate(sequence(i + 1, CAST(n_days AS INT) - 3),
             |   CAST(0 AS BIGINT), (a2, j) ->
             |   a2 + CASE WHEN ${p("i", "j")} AND ${p("i + 1", "j + 1")}
             |     AND ${p("i + 2", "j + 2")}
             |     THEN 1 ELSE 0 END))""".stripMargin.replace("\n", " ")))
        .select(col("n_days"), col("b_cnt"), col("a_cnt"),
          expr("""CASE WHEN a_cnt > 0 AND b_cnt > 0
                 | THEN CAST(FLOOR(ln(CAST(b_cnt AS DOUBLE) / a_cnt)
                 |   * 1000000.0) AS BIGINT)
                 | ELSE CAST(NULL AS BIGINT) END"""
            .stripMargin.replace("\n", " ")).as("sampen_fp"))
    }),

    // Hurst exponent by rescaled-range analysis (r12, fifth session;
    // Hurst 1951; Mandelbrot & Wallis 1969): long-range dependence of
    // the daily volume — H≈0.5 memoryless, H>0.5 persistent trends
    // (the property that breaks √n error scaling for any sampler over
    // the stream), H<0.5 mean-reverting. R/S per block = range of the
    // s-scaled cumulative deviations over √(s·Q_b−S_b²) — the s-
    // scaling clears the rational block mean, so the range and the
    // variance argument are EXACT integers and each block contributes
    // ONE FLOOR'd IEEE leaf; H is the log-log OLS slope over block
    // sizes {8,16,32,64} with the closed-form integer-moment slope
    // (zipf precedent). Scale: calendar-bounded — the sized/blocked
    // relation is ≤4·|days| rows; windows partition by (size, block);
    // everything downstream is ≤|sizes| rows. Full blocks only;
    // zero-variance blocks skipped and counted.
    "hurst_rs_daily" -> ((s, d) => {
      // localCheckpoint (the batch_chunks idiom): `daily` feeds
      // GlobalRank's measuring passes PLUS the n-count branch below —
      // without pinning, the events scan+agg re-executes ~5× per
      // invocation (r12 verdict #3). The pinned relation is ≤|days|
      // rows of two longs; executor-storage cost is negligible at any
      // scale, and a lost executor recomputes.
      val daily = Tables.events(s, d)
        .groupBy(expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')")
          .as("di"))
        .agg(count(lit(1)).as("x"))
        .localCheckpoint()
      val rn = graft.functions.GlobalRank
        .rowNumber(daily, "rn", Nil, Seq("di"))
      val nDf = daily.agg(count(lit(1)).as("n"))
      val sized = rn.crossJoin(broadcast(nDf))
        .select(col("rn"), col("x"), col("n"),
          explode(expr("array(8L, 16L, 32L, 64L)")).as("s"))
        .filter(col("rn") <= expr("(n DIV s) * s"))
        .withColumn("blk", expr("(rn - 1) DIV s"))
      val bt = sized.groupBy("s", "blk")
        .agg(sum("x").as("sb"), sum(expr("x * x")).as("qb"))
      val w = Window.partitionBy("s", "blk").orderBy("rn")
      val blocks = sized.join(bt, Seq("s", "blk"))
        .withColumn("z", sum(expr("s * x - sb")).over(w))
        .groupBy("s", "blk", "sb", "qb")
        .agg(max("z").as("zmax"), min("z").as("zmin"))
        .withColumn("nqss_b", expr("s * qb - sb * sb"))
      val perSize = blocks.groupBy("s").agg(
          sum(when(col("nqss_b") > 0, 1L).otherwise(0L)).as("n_blocks"),
          sum(when(col("nqss_b") <= 0, 1L).otherwise(0L)).as("n_skipped"),
          sum(when(col("nqss_b") > 0, expr(
            """CAST(FLOOR(CAST(zmax - zmin AS DOUBLE)
              | / sqrt(CAST(nqss_b AS DOUBLE)) * 1000000.0) AS BIGINT)"""
              .stripMargin.replace("\n", " "))).otherwise(0L)).as("sum_rs"))
        .filter(col("n_blocks") >= 1)
        .withColumn("mean_rs_fp", expr("sum_rs DIV n_blocks"))
      val pts = perSize.filter(col("mean_rs_fp") > 0)
        .select(
          expr("CAST(FLOOR(ln(CAST(s AS DOUBLE)) * 1000000.0) AS BIGINT)")
            .as("px"),
          expr("""CAST(FLOOR(ln(CAST(mean_rs_fp AS DOUBLE) / 1000000.0)
                 | * 1000000.0) AS BIGINT)"""
            .stripMargin.replace("\n", " ")).as("py"))
      val hurst = pts.agg(count(lit(1)).as("p"), sum("px").as("sx"),
          sum("py").as("sy"), sum(expr("px * py")).as("sxy"),
          sum(expr("px * px")).as("sxx"))
        .withColumn("num", expr(
          """CAST(p AS DECIMAL(38,0)) * sxy
            | - CAST(sx AS DECIMAL(38,0)) * sy"""
            .stripMargin.replace("\n", " ")))
        .withColumn("den", expr(
          """CAST(p AS DECIMAL(38,0)) * sxx
            | - CAST(sx AS DECIMAL(38,0)) * sx"""
            .stripMargin.replace("\n", " ")))
        .select(expr(
          """CASE WHEN p >= 2 AND den > 0 THEN
            |   CASE WHEN num >= 0
            |     THEN CAST(num * 1000000 DIV den AS BIGINT)
            |     ELSE -CAST((-num) * 1000000 DIV den AS BIGINT) END
            | ELSE CAST(NULL AS BIGINT) END"""
            .stripMargin.replace("\n", " ")).as("hurst_fp"))
      perSize.select("s", "n_blocks", "n_skipped", "mean_rs_fp")
        .crossJoin(broadcast(hurst))
        .orderBy("s")
    }),

    // Durbin–Watson statistic (r12, fifth session; Durbin & Watson
    // 1950): first-order autocorrelation of the residuals around the
    // daily-volume OLS TREND line — runs_test_daily sees sign
    // clustering around a LEVEL; DW answers the sharper forecasting
    // question "after detrending, are the errors still serially
    // dependent" (DW≈2 independent, →0 positive, →4 negative).
    // EXACT residuals: e_t scaled by n·D (D = n·Σt² − (Σt)², t the
    // day offset) is the integer E_t = n·D·y_t − (D·Σy − B·Σt) −
    // n·B·t with B = n·Σty − Σt·Σy — the scale cancels in DW =
    // Σ(E_t−E_{t−1})²/ΣE_t², so the statistic is ONE exact rational,
    // floored at 1e-6. Scale: the series is calendar-bounded — one
    // map-side daily aggregate; E_t folds in DECIMAL(38,0). E_t ≈
    // n⁵·y/12, so the exact envelope |E_t| < 1e17 (keeping ΣE² < 1e38
    // for any series ≤ 1e4 days) holds through ~400 days × 1e6/day
    // (ADVICE r13 corrected the earlier ≤512-days × 1e8/day claim —
    // that point is ~1e3× past the true envelope); past it both
    // engines fail loudly and identically via the cooks_distance
    // guard idiom below. The adjacent diff is a rank-shifted
    // equi-join (mase pattern), DW uses consecutive OBSERVED days
    // (gaps documented as adjacency).
    "durbin_watson_ols" -> ((s, d) => {
      // localCheckpoint (the batch_chunks idiom, r12 verdict #3):
      // `daily` fans out into min-day, moments, and the residual
      // branch, which then feeds GlobalRank's passes — unpinned, the
      // events scan+agg would re-execute once per branch.
      val daily = Tables.events(s, d)
        .groupBy(expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')")
          .as("di"))
        .agg(count(lit(1)).as("y"))
        .localCheckpoint()
      val m0 = daily.agg(min("di").as("di0"))
      val td = daily.crossJoin(broadcast(m0))
        .withColumn("t", col("di") - col("di0"))
      val m = td.agg(count(lit(1)).as("n"), sum("t").as("st"),
          sum("y").as("sy"), sum(expr("t * y")).as("sty"),
          sum(expr("t * t")).as("stt"))
        .withColumn("dd", expr(
          "CAST(n AS DECIMAL(38,0)) * stt - CAST(st AS DECIMAL(38,0)) * st"))
        .withColumn("bb", expr(
          "CAST(n AS DECIMAL(38,0)) * sty - CAST(st AS DECIMAL(38,0)) * sy"))
        .withColumn("cc", expr(
          "dd * sy - bb * st"))
      val e = td.crossJoin(broadcast(m))
        .filter(col("n") >= 3 && expr("dd > 0"))
        .withColumn("e0", expr(
          "CAST(n AS DECIMAL(38,0)) * dd * y - cc - CAST(n AS DECIMAL(38,0)) * bb * t"))
        // loud envelope guard (ADVICE r13, cooks_distance idiom): NULL
        // (overflowed) or ≥1e17 residuals abort instead of silently
        // dropping from ΣE² / Σ(ΔE)²
        .withColumn("e_t", expr(
          "CASE WHEN abs(e0) < CAST(100000000000000000 AS DECIMAL(38,0)) THEN e0 " +
            "ELSE CAST(raise_error('durbin_watson_ols: |E_t| >= 1e17 " +
            "exceeds the exact-decimal envelope') AS DECIMAL(38,0)) END"))
        .select("di", "n", "e_t")
      val rn = graft.functions.GlobalRank
        .rowNumber(e, "rn", Nil, Seq("di"))
      val prev = rn.select((col("rn") + 1).as("rn"), col("e_t").as("e_prev"))
      val diffs = rn.join(prev, "rn")
        .agg(sum(expr("(e_t - e_prev) * (e_t - e_prev)")).as("sum_d2"))
      rn.groupBy("n").agg(sum(expr("e_t * e_t")).as("sum_e2"))
        .crossJoin(broadcast(diffs))
        .filter(expr("sum_e2 > 0"))
        .select(col("n").as("n_days"),
          expr("CAST(sum_d2 * 1000000 DIV sum_e2 AS BIGINT)").as("dw_fp"))
    }),

    // Generalized ESD outlier sweep (r12, fifth session; Rosner
    // 1983): three unrolled Grubbs rounds over the daily volume —
    // each round reports the farthest-from-mean day, its test
    // statistic R = |x−x̄|/s over the CURRENTLY-kept set, then
    // removes it, so masked outliers (which a single Grubbs pass
    // misses because the outlier inflates s) surface on later
    // rounds. Scale: calendar-bounded daily rollup map-side; the 3
    // rounds run on COLLECTED bounded model state (stationaryPi
    // precedent) in exact BigInt moments; R is ONE shared-text IEEE
    // leaf R = md/√(nqss·n/(n−1)) over the exact integers (md =
    // max|n·x−S|, nqss = n·Q−S²), FLOOR'd at 1e-6; ties break to the
    // smallest day; rounds stop at n<4 or zero variance on BOTH
    // engines (the oracle unrolls the same three stages as CTEs).
    "gesd_outlier_daily" -> ((s, d) => {
      val xs = Tables.events(s, d)
        .groupBy(expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')")
          .as("di"))
        .agg(count(lit(1)).as("x"))
        .orderBy("di").collect()
        .map(r => (r.getInt(0).toLong, r.getLong(1)))
      import s.implicits._
      gesdRounds(xs, 3).toDF("iter", "removed_day", "removed_x",
        "n_kept", "r_fp").orderBy("iter")
    }),

    // Cohort LTV: cumulative revenue by acquisition-month cohort and
    // age in months (first year), with the cohort's customer count.
    "cohort_ltv_curve" -> ((s, d) => {
      val ords = Tables.orders(s, d).select(col("o_custkey"),
        expr("year(o_orderdate) * 12 + month(o_orderdate)").as("mi"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val cohort = ords.groupBy("o_custkey").agg(min("mi").as("cohort_mi"))
      val sizes = cohort.groupBy("cohort_mi")
        .agg(count(lit(1)).as("n_users"))
      val cube = ords.join(cohort, "o_custkey")
        .withColumn("age", col("mi") - col("cohort_mi"))
        .groupBy("cohort_mi", "age")
        .agg(sum("cents").as("rev_cents"))
      val w = Window.partitionBy("cohort_mi").orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cube.withColumn("cum_rev_cents", sum("rev_cents").over(w))
        .filter(col("age") <= 11)
        .join(broadcast(sizes), "cohort_mi")
        .select("cohort_mi", "age", "n_users", "rev_cents", "cum_rev_cents")
        .orderBy("cohort_mi", "age")
    }),

    // Seasonal Mann–Kendall trend test (r12, third session): is
    // monthly revenue trending across YEARS, judged within each
    // calendar month separately so seasonality can't masquerade as
    // trend (Hirsch & Slack 1984)? S = Σ_m S_m with S_m the pairwise
    // sign sum of month-m's year series; the variance is the exact
    // tie-corrected integer 18·Var = Σ_m [n(n−1)(2n+5) − Σ_t t(t−1)
    // (2t+5)] and z is ONE terminal IEEE expression over (S, 18·Var).
    // Scale: the monthly table is CALENDAR-bounded, so per-season pair
    // expansion is the Kendall/Theil–Sen array recipe (C(years,2)·12
    // pairs from 12 sorted collect_lists — never a self-join and never
    // a window on the fact stream); the corpus pass is one map-side
    // combinable (year, month) cents aggregate.
    "seasonal_mann_kendall" -> ((s, d) => {
      val monthly = Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("season"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as("rev"))
      val perSeason = monthly.groupBy("season")
        .agg(sort_array(collect_list(struct(col("yr"), col("rev"))))
          .as("a"))
        .filter(size(col("a")) >= 2)
        .select(col("season").cast("long").as("season"),
          size(col("a")).cast("long").as("n_years"),
          expr(
            """aggregate(flatten(transform(sequence(0, size(a) - 2), i ->
              |  transform(sequence(i + 1, size(a) - 1), j ->
              |    CAST(sign(CAST(a[j].rev - a[i].rev AS DOUBLE)) AS BIGINT)
              |  ))), CAST(0 AS BIGINT), (acc, e) -> acc + e)"""
              .stripMargin.replace("\n", " ")).as("s_m"))
      val ties = monthly.groupBy("season", "rev")
        .agg(count(lit(1)).as("t"))
        .groupBy("season")
        .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_sum"))
      val seasons = perSeason.join(ties, "season")
        .withColumn("var18_m", expr(
          "n_years * (n_years - 1) * (2 * n_years + 5) - tie_sum"))
      val tot = seasons.agg(sum("s_m").as("s_tot"),
        sum("var18_m").as("var18_tot"))
        .withColumn("z_val", expr(
          """CASE WHEN var18_tot > 0 THEN round(
            |  (CASE WHEN s_tot > 0 THEN s_tot - 1
            |        WHEN s_tot < 0 THEN s_tot + 1 ELSE 0 END)
            |  / sqrt(var18_tot / 18.0), 6)
            |ELSE CAST(NULL AS DOUBLE) END""".stripMargin.replace("\n", " ")))
      seasons.select("season", "n_years", "s_m", "var18_m")
        .crossJoin(broadcast(tot))
        .select("season", "n_years", "s_m", "var18_m", "s_tot",
          "var18_tot", "z_val")
        .orderBy("season")
    }),

    // KPSS level-stationarity statistic (r13; Kwiatkowski, Phillips,
    // Schmidt & Shin 1992, short-run l=0 variant): η = Σ S_t²/(n²σ̂²)
    // over partial sums of the demeaned daily volume — the
    // stationarity NULL complementing ADF's unit-root null (KPSS
    // rejects ⟺ a trend/random-walk component exists; together they
    // bracket the series class before any ARMA-style read). ENTIRELY
    // integer: the n-scaled partial sum n·S_t = n·C_t − t·S1 is exact
    // int64, its square sum folds in DECIMAL(38,0)/HUGEINT, and
    // η = Q/(n²·(nS2−S1²)) is one truncating fixed-point division
    // (envelope: ≤~1e3 days × ≤1e6 events/day inside 38 digits at Q).
    // Scale: ONE map-side daily aggregate; rank/prefix via GlobalRank's
    // measured two-phase path; everything downstream ≤|days| rows.
    "kpss_level_daily" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')")
          .as("di"))
        .agg(count(lit(1)).as("x"))
        .localCheckpoint()
      val rn = graft.functions.GlobalRank
        .rowNumber(daily, "rn", Nil, Seq("di"))
      val cx = graft.functions.GlobalRank
        .prefixSum(rn, "cx", col("x"), Nil, Seq("di"))
      val m = daily.agg(count(lit(1)).as("n"), sum("x").as("s1"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("s2"))
      cx.crossJoin(broadcast(m))
        .agg(sum(expr(
          """(CAST(cx AS DECIMAL(38,0)) * n - CAST(rn AS DECIMAL(38,0)) * s1)
            | * (CAST(cx AS DECIMAL(38,0)) * n - CAST(rn AS DECIMAL(38,0)) * s1)"""
            .stripMargin.replace("\n", " "))).as("qsum"),
          max("n").as("n"), max("s1").as("s1"), max("s2").as("s2"))
        .withColumn("vn",
          expr("CAST(n AS DECIMAL(38,0)) * s2 - CAST(s1 AS DECIMAL(38,0)) * s1"))
        .select(col("n").as("n_days"), expr(
          """CASE WHEN n >= 2 AND vn > 0 THEN
            |CAST(qsum * 1000000 DIV (CAST(n AS DECIMAL(38,0)) * n * vn)
            |  AS BIGINT)
            |ELSE CAST(NULL AS BIGINT) END""".stripMargin.replace("\n", " "))
          .as("kpss_eta_fp"))
    }),

    // (Augmented) Dickey–Fuller unit-root t (r13; Dickey & Fuller
    // 1979, lag-0 with drift): Δx_t on x_{t−1} — β near 0 means
    // shocks persist (random walk), β ≪ 0 means mean reversion; THE
    // stationarity read paired with KPSS above. Adjacent pairs are
    // consecutive OBSERVED days (the mase/durbin_watson adjacency
    // convention, gaps documented); the regression is closed-form off
    // ONE exact integer moment pass (Σx, ΣΔ, Σx², ΣxΔ, ΣΔ² with
    // DECIMAL(38,0)/HUGEINT lifts, den = nΣx²−(Σx)² exact); β and its
    // t-ratio are ONE shared-text IEEE leaf each.
    "adf_dickey_fuller_daily" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')")
          .as("di"))
        .agg(count(lit(1)).as("x"))
        .localCheckpoint()
      val rn = graft.functions.GlobalRank
        .rowNumber(daily, "rn", Nil, Seq("di"))
      val prev = rn.select((col("rn") + 1).as("rn"), col("x").as("xl"))
      val pairs = rn.join(prev, "rn")
        .select(col("xl"), (col("x") - col("xl")).as("dy"))
      pairs.agg(count(lit(1)).as("n"), sum("xl").as("sx"),
          sum("dy").as("sy"),
          sum(expr("CAST(xl AS DECIMAL(38,0)) * xl")).as("sxx"),
          sum(expr("CAST(xl AS DECIMAL(38,0)) * dy")).as("sxy"),
          sum(expr("CAST(dy AS DECIMAL(38,0)) * dy")).as("syy"))
        .withColumn("den",
          expr("CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
        .select(col("n").as("n_pairs"),
          expr(s"CASE WHEN $adfGuard THEN ${fp6(adfBetaS)} " +
            "ELSE CAST(NULL AS BIGINT) END").as("beta_fp"),
          expr(s"CASE WHEN $adfGuard THEN ${fp6(adfTS)} " +
            "ELSE CAST(NULL AS BIGINT) END").as("df_t_fp"))
    }),

    // Theil's U₂ (r13; Theil 1966): RMSE of the lag-7 seasonal-naive
    // forecast relative to the lag-1 naive, per-pair-normalized —
    // U₂ < 1 means weekly seasonality genuinely forecasts better than
    // persistence (the skill read mase_seasonal_naive scales per-step;
    // this is the classical ratio form against the OTHER baseline).
    // Lags are OBSERVED-step (rank-shifted equi-joins, the mase/DW
    // adjacency convention). Both squared-error sums are exact
    // DECIMAL(38,0) integers; U₂ is ONE shared-text √ leaf.
    "theil_u2_forecast" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')")
          .as("di"))
        .agg(count(lit(1)).as("x"))
        .localCheckpoint()
      val rn = graft.functions.GlobalRank
        .rowNumber(daily, "rn", Nil, Seq("di"))
      def lagged(k: Int) = rn.select((col("rn") + k).as("rn"),
        col("x").as(s"xl$k"))
      val j1 = rn.join(lagged(1), "rn").agg(count(lit(1)).as("m1"),
        sum(expr("CAST(x - xl1 AS DECIMAL(38,0)) * (x - xl1)")).as("s1"))
      val j7 = rn.join(lagged(7), "rn").agg(count(lit(1)).as("m7"),
        sum(expr("CAST(x - xl7 AS DECIMAL(38,0)) * (x - xl7)")).as("s7"))
      j1.crossJoin(broadcast(j7))
        .select(col("m1"), col("m7"), expr(
          """CASE WHEN m1 > 0 AND m7 > 0 AND s1 > 0 THEN
            |CAST(FLOOR(sqrt((CAST(s7 AS DOUBLE) / m7)
            |  / (CAST(s1 AS DOUBLE) / m1)) * 1000000.0) AS BIGINT)
            |ELSE CAST(NULL AS BIGINT) END""".stripMargin.replace("\n", " "))
          .as("u2_fp"))
    }),

    // Croston's method (r13; Croston 1972) on the intermittent
    // big-ticket purchase series (daily count of purchases with
    // value > CrostonValueMin — most days have NO demand at small
    // scales): separate α=1/5 exponential smoothing of the nonzero
    // demand SIZE and the inter-demand INTERVAL, forecast = ẑ/p̂,
    // plus the Syntetos–Boylan (2005) (1−α/2) bias correction — the
    // standard slow-mover forecast where plain SES is biased high
    // right after each demand. Pure Long 1e-6 fixed point (holt_
    // winters recurrence class); the oracle replays the identical
    // integer recurrence as a recursive CTE.
    // Scale: ONE map-side conditional daily aggregate; the recurrence
    // runs on COLLECTED calendar-bounded model state (≤|days| rows).
    "croston_intermittent_demand" -> ((s, d) => {
      val xs = Tables.events(s, d)
        .filter(col("event_type") === "purchase"
          && col("value") > CrostonValueMin)
        .groupBy(expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')")
          .as("di"))
        .agg(count(lit(1)).as("z"))
        .orderBy("di").collect()
        .map(r => (r.getInt(0).toLong, r.getLong(1)))
      import s.implicits._
      croston(xs).toDF("day", "z", "q", "z_hat_fp", "p_hat_fp",
        "croston_fp", "sba_fp").orderBy("day")
    }),

    // Daily-volume periodogram (r13; Schuster 1898): spectral power
    // share at candidate periods 2..10 days over the mean-centered
    // daily counts — the "which cycle dominates" read behind
    // weekday_seasonality_profile (that op ASSUMES p=7; this one
    // finds it). ENTIRELY integer: cos/sin enter as shared 1e-6
    // fixed-point constants (trigFp — no trig evaluated by either
    // engine); per-period A = (n·Σx·c − S·Σc) DIV n (truncation
    // pinned), power = A² + B² in DECIMAL(38,0), share one floored
    // division of exact integers.
    // Scale: ONE map-side daily aggregate (localCheckpoint-pinned,
    // it feeds the scalar branch + the term build); the period
    // explode is a bounded ×|Periods| fan; constants join broadcast;
    // A ≤ ~1e15 at 1000× fixture volume — int64-safe, squares inside
    // DECIMAL(38,0).
    "periodogram_power_share" -> ((s, d) => {
      import s.implicits._
      val daily = Tables.events(s, d)
        .groupBy(expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')")
          .as("di"))
        .agg(count(lit(1)).as("x"))
        .localCheckpoint()
      val d0 = daily.agg(min("di").as("di0"),
        count(lit(1)).as("n"), sum("x").as("s_tot"))
      val trigDf = trigFp.toDF("p", "k", "cfp", "sfp")
      val perP = daily.crossJoin(broadcast(d0))
        .withColumn("t", col("di") - col("di0"))
        .select(col("x"), col("t"),
          explode(typedLit(Periods.toList)).as("p"))
        .withColumn("k", expr("CAST(t % p AS INT)"))
        .join(broadcast(trigDf), Seq("p", "k"))
        .groupBy("p")
        .agg(count(lit(1)).as("n_terms"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * cfp")).as("sxc"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * sfp")).as("sxs"),
          sum(col("cfp").cast("decimal(38,0)")).as("sc"),
          sum(col("sfp").cast("decimal(38,0)")).as("ss"))
      val pw = perP.crossJoin(broadcast(d0))
        .withColumn("abar", expr(
          "(CAST(n AS DECIMAL(38,0)) * sxc - CAST(s_tot AS DECIMAL(38,0)) * sc) DIV n"))
        .withColumn("bbar", expr(
          "(CAST(n AS DECIMAL(38,0)) * sxs - CAST(s_tot AS DECIMAL(38,0)) * ss) DIV n"))
        .withColumn("pow", expr(
          "CAST(abar AS DECIMAL(38,0)) * abar + CAST(bbar AS DECIMAL(38,0)) * bbar"))
      val tot = pw.agg(sum("pow").as("pow_tot"))
      pw.crossJoin(broadcast(tot))
        .select(col("p"), col("n_terms"), col("abar"), col("bbar"),
          expr("""CASE WHEN pow_tot > 0
                 | THEN CAST(pow * 1000000 DIV pow_tot AS BIGINT)
                 | ELSE CAST(NULL AS BIGINT) END"""
            .stripMargin.replace("\n", " ")).as("power_share_fp"))
        .orderBy("p")
    }),

    // Cook's distance top-10 (r13; Cook 1977) against the daily-volume
    // OLS trend: which single days, if deleted, would move the fitted
    // trend the most — the influence audit run before trusting
    // ols_trend/durbin_watson on a series with outages or backfill
    // spikes. The (n·b_den)-scaled integer residual E_t (the
    // durbin_watson scaling; E_t ≈ n⁵·y/12, so the exact-decimal
    // envelope |E_t| < 1e17 — which keeps ΣE² < 1e38 for any series
    // ≤ 1e4 days — holds through ~400 days × 1e6/day or ~30 days ×
    // 1e10/day; ADVICE r13 corrected the earlier ~1e3-days claim,
    // which overstated it ~1e2×) and the leverage numerator (n·t−Σt)²
    // are exact; D_i = E_i²·h·(n−2)/(2·ΣE²·(1−h)²) — the common
    // (n·b_den)² clears — is ONE shared-text IEEE leaf per day; top-10
    // via TakeOrdered. Past the envelope both engines now fail LOUDLY
    // and identically (raise_error / error() below) instead of Spark's
    // silent non-ANSI NULL vs DuckDB's HUGEINT throw. Scale: ONE
    // map-side daily aggregate; everything downstream is ≤|days| rows
    // against broadcast 1-row moments.
    "cooks_distance_topk" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')")
          .as("di"))
        .agg(count(lit(1)).as("y"))
        .localCheckpoint()
      val m0 = daily.agg(min("di").as("di0"))
      val td = daily.crossJoin(broadcast(m0))
        .withColumn("t", col("di") - col("di0"))
      val m = td.agg(count(lit(1)).as("n"), sum("t").as("st"),
          sum("y").as("sy"),
          sum(expr("CAST(t AS DECIMAL(38,0)) * t")).as("stt"),
          sum(expr("CAST(t AS DECIMAL(38,0)) * y")).as("sty"))
        .withColumn("bnum",
          expr("CAST(n AS DECIMAL(38,0)) * sty - CAST(st AS DECIMAL(38,0)) * sy"))
        .withColumn("bden",
          expr("CAST(n AS DECIMAL(38,0)) * stt - CAST(st AS DECIMAL(38,0)) * st"))
        .withColumn("cc", expr("bden * sy - bnum * st"))
      val e = td.crossJoin(broadcast(m))
        .filter(col("n") >= 4 && expr("bden > 0"))
        .withColumn("ei0", expr(
          "CAST(n AS DECIMAL(38,0)) * bden * y - cc - CAST(n AS DECIMAL(38,0)) * bnum * t"))
        // loud envelope guard (ADVICE r13): a NULL ei0 (non-ANSI
        // decimal overflow) or |ei0| ≥ 1e17 (ei² would push ΣE² past
        // DECIMAL(38,0), where per-row NULLs silently DROP from the
        // sum) must abort, not corrupt — CASE sends both to raise_error
        .withColumn("ei", expr(
          "CASE WHEN abs(ei0) < CAST(100000000000000000 AS DECIMAL(38,0)) THEN ei0 " +
            "ELSE CAST(raise_error('cooks_distance_topk: |E_i| >= 1e17 " +
            "exceeds the exact-decimal envelope') AS DECIMAL(38,0)) END"))
        .withColumn("g2", expr(
          """(CAST(n AS DECIMAL(38,0)) * t - st)
            | * (CAST(n AS DECIMAL(38,0)) * t - st)"""
            .stripMargin.replace("\n", " ")))
      val sse = e.agg(sum(expr("ei * ei")).as("sse"))
      e.crossJoin(broadcast(sse))
        .filter(expr("sse > 0"))
        .select(col("di"), col("y"),
          expr(s"CAST(FLOOR(($cooksDS) * 1000000000.0) AS BIGINT)")
            .as("cooks_d_fp"))
        .orderBy(col("cooks_d_fp").desc, col("di"))
        .limit(10)
    }),
  )

  /** Oracle CTE chain mirroring [[acfTerms]]: daily counts → stats →
    * calendar-aligned lag pairs ≤ MaxLag → per-lag exact sums.
    */
  private val acfTermsDuck =
    s"""daily AS (
       |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS di,
       |         CAST(count(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
       |              CAST(sum(x) AS BIGINT) AS s_tot FROM daily),
       |den AS (
       |  SELECT CAST(sum((st.n_days * d.x - st.s_tot)
       |       * (st.n_days * d.x - st.s_tot)) AS BIGINT) AS den
       |  FROM daily d CROSS JOIN st),
       |pairs AS (
       |  SELECT b.di - a.di AS lag,
       |         (st.n_days * a.x - st.s_tot)
       |       * (st.n_days * b.x - st.s_tot) AS prod
       |  FROM daily a JOIN daily b
       |    ON b.di > a.di AND b.di - a.di <= $MaxLag
       |  CROSS JOIN st),
       |terms AS (
       |  SELECT st.n_days, den.den, p.lag,
       |         CAST(count(*) AS BIGINT) AS n_terms,
       |         CAST(sum(p.prod) AS BIGINT) AS num
       |  FROM pairs p CROSS JOIN st CROSS JOIN den
       |  GROUP BY 1, 2, 3)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "autocorrelation_profile" ->
      s"""WITH $acfTermsDuck
         |SELECT CAST(lag AS BIGINT) AS lag, n_terms, num, den,
         |       CAST(${signedFpDivDuck("num", "den")} AS BIGINT) AS r_fp
         |FROM terms ORDER BY lag""".stripMargin,

    "ljung_box_q" ->
      s"""WITH $acfTermsDuck
         |SELECT n_days, CAST(count(*) AS BIGINT) AS n_lags,
         |       CAST(sum(CAST(FLOOR(n_days * (n_days + 2)
         |         * (CAST(num AS DOUBLE) / den) * (CAST(num AS DOUBLE) / den)
         |         / (n_days - lag) * 1000000.0) AS BIGINT)) AS BIGINT) AS q_fp
         |FROM terms GROUP BY n_days""".stripMargin,

    // same sgn pair counts via the bounded |days|³ comma-join; the
    // cut table, max-|U|, and smallest-day tie-break mirror the HOFs
    "pettitt_changepoint" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS di,
        |         CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1),
        |idx AS MATERIALIZED (
        |  SELECT row_number() OVER (ORDER BY di) AS rk,
        |         CAST(di AS BIGINT) AS day, v
        |  FROM daily),
        |mx AS (SELECT max(rk) AS t_max FROM idx),
        |u AS MATERIALIZED (
        |  SELECT c.rk AS crk, c.day,
        |         CAST(sum(CASE WHEN a.v > b.v THEN 1
        |                       WHEN a.v < b.v THEN -1 ELSE 0 END)
        |           AS BIGINT) AS u_stat
        |  FROM idx c, mx, idx a, idx b
        |  WHERE a.rk <= c.rk AND b.rk > c.rk AND c.rk < t_max
        |  GROUP BY c.rk, c.day),
        |k AS (SELECT max(abs(u_stat)) AS k_stat FROM u),
        |cp AS (SELECT min(day) AS cp_day
        |       FROM u CROSS JOIN k WHERE abs(u_stat) = k_stat)
        |SELECT day, u_stat, abs(u_stat) AS abs_u,
        |       CAST(CASE WHEN abs(u_stat) = k_stat AND day = cp_day
        |            THEN 1 ELSE 0 END AS BIGINT) AS is_cp
        |FROM u CROSS JOIN k CROSS JOIN cp ORDER BY day""".stripMargin,

    // the SAME integer recurrence as a recursive CTE: the season ring
    // rides as a LIST column; `//` truncates toward zero = Scala `/`
    "holt_winters_daily" ->
      """WITH RECURSIVE daily AS MATERIALIZED (
        |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS di,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |idx AS MATERIALIZED (
        |  SELECT row_number() OVER (ORDER BY di) AS rk,
        |         CAST(di AS BIGINT) AS day, n, n * 1000000 AS xfp
        |  FROM daily),
        |m1 AS (SELECT CAST(sum(xfp) AS BIGINT) // 7 AS mean1
        |       FROM idx WHERE rk <= 7),
        |m2 AS (SELECT CAST(sum(xfp) AS BIGINT) // 7 AS mean2
        |       FROM idx WHERE rk BETWEEN 8 AND 14),
        |cnt AS (SELECT max(rk) AS t_max FROM idx),
        |seed AS (
        |  SELECT CAST(7 AS BIGINT) AS rk, CAST(NULL AS BIGINT) AS day,
        |         CAST(NULL AS BIGINT) AS n,
        |         mean1 AS l, (mean2 - mean1) // 7 AS b,
        |         (SELECT list(xfp - mean1 ORDER BY rk)
        |          FROM idx WHERE rk <= 7) AS ring,
        |         CAST(NULL AS BIGINT) AS season,
        |         CAST(NULL AS BIGINT) AS fitted,
        |         CAST(NULL AS BIGINT) AS resid
        |  FROM m1 CROSS JOIN m2 CROSS JOIN cnt WHERE t_max >= 14),
        |hw AS (
        |  SELECT * FROM seed
        |  UNION ALL
        |  SELECT i.rk, i.day, i.n,
        |    (3 * (i.xfp - h.ring[1]) + 7 * (h.l + h.b)) // 10,
        |    (((3 * (i.xfp - h.ring[1]) + 7 * (h.l + h.b)) // 10)
        |      - h.l + 9 * h.b) // 10,
        |    list_append(h.ring[2:7],
        |      (2 * (i.xfp - h.l - h.b) + 8 * h.ring[1]) // 10),
        |    (2 * (i.xfp - h.l - h.b) + 8 * h.ring[1]) // 10,
        |    h.l + h.b + h.ring[1],
        |    i.xfp - (h.l + h.b + h.ring[1])
        |  FROM hw h JOIN idx i ON i.rk = h.rk + 1)
        |SELECT day, n, l AS level_fp, b AS trend_fp, season AS season_fp,
        |       fitted AS fitted_fp, resid AS resid_fp
        |FROM hw WHERE rk >= 8 ORDER BY day""".stripMargin,

    // same daily series / rank-defined lower median / excluded-median
    // convention; the sign sequence walks day order via lag
    "runs_test_daily" ->
      s"""WITH daily AS MATERIALIZED (
         |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
         |           AS di,
         |         CAST(count(*) AS BIGINT) AS x
         |  FROM events GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
         |med AS (
         |  SELECT CAST(x AS BIGINT) AS median_x
         |  FROM (SELECT x, row_number() OVER (ORDER BY x) AS rn
         |        FROM daily) q CROSS JOIN nn
         |  WHERE rn = (n_days - 1) // 2 + 1),
         |sg AS (
         |  SELECT di, CASE WHEN x > median_x THEN 1 ELSE 0 END AS s,
         |         lag(CASE WHEN x > median_x THEN 1 ELSE 0 END)
         |           OVER (ORDER BY di) AS prev
         |  FROM daily CROSS JOIN med WHERE x != median_x),
         |agg AS (
         |  SELECT CAST(coalesce(sum(s), 0) AS BIGINT) AS n_above,
         |         CAST(count(*) AS BIGINT) AS m,
         |         CAST(CASE WHEN count(*) = 0 THEN 0 ELSE 1 +
         |           coalesce(sum(CASE WHEN prev IS NOT NULL AND s != prev
         |             THEN 1 ELSE 0 END), 0) END AS BIGINT) AS runs
         |  FROM sg),
         |st AS (SELECT n_above, m, m - n_above AS n_below, runs FROM agg)
         |SELECT n_days, median_x, n_above, n_below, runs,
         |       $runsZSql AS z_val
         |FROM nn CROSS JOIN med CROSS JOIN st
         |WHERE n_days >= 2""".stripMargin,

    // the SAME LZ78 parse as a recursive CTE over the sign string
    "lz78_complexity_daily" ->
      """WITH RECURSIVE daily AS MATERIALIZED (
        |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |           AS di,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
        |med AS (
        |  SELECT x AS median_x FROM (
        |    SELECT x, row_number() OVER (ORDER BY x) AS rn FROM daily) q
        |  CROSS JOIN nn WHERE rn = (n - 1) // 2 + 1),
        |sq AS (
        |  SELECT string_agg(CASE WHEN x > median_x THEN '1' ELSE '0' END,
        |           '' ORDER BY di) AS s, n
        |  FROM daily CROSS JOIN med CROSS JOIN nn
        |  GROUP BY n HAVING n >= 2),
        |lz AS (
        |  SELECT CAST(1 AS BIGINT) AS i, '' AS cur,
        |         CAST([] AS VARCHAR[]) AS dict,
        |         CAST(0 AS BIGINT) AS phrases, s, n
        |  FROM sq
        |  UNION ALL
        |  SELECT i + 1,
        |    CASE WHEN list_contains(dict, cur || s[CAST(i AS INT)])
        |         THEN cur || s[CAST(i AS INT)] ELSE '' END,
        |    CASE WHEN list_contains(dict, cur || s[CAST(i AS INT)])
        |         THEN dict
        |         ELSE list_append(dict, cur || s[CAST(i AS INT)]) END,
        |    CASE WHEN list_contains(dict, cur || s[CAST(i AS INT)])
        |         THEN phrases ELSE phrases + 1 END,
        |    s, n
        |  FROM lz WHERE i <= len(s))
        |SELECT n AS n_days,
        |       phrases + CASE WHEN cur != '' THEN 1 ELSE 0 END
        |         AS n_phrases,
        |       CAST(FLOOR((phrases + CASE WHEN cur != '' THEN 1 ELSE 0
        |           END) * ln(CAST(n AS DOUBLE)) / n * 1000000.0)
        |         AS BIGINT) AS c_norm_fp
        |FROM lz WHERE i = len(s) + 1""".stripMargin,

    // same exact integer dispersion rationals
    "poisson_dispersion_daily" ->
      """WITH daily AS (
        |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |           AS di,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(x) AS BIGINT) AS s,
        |             sum(CAST(x AS HUGEINT) * x) AS q
        |      FROM daily),
        |g AS (SELECT n, s,
        |             CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s
        |               AS nqss
        |      FROM m WHERE n >= 2 AND s > 0)
        |SELECT n AS n_days, s AS n_events,
        |       CAST(CAST(s AS HUGEINT) * 1000000 // n AS BIGINT)
        |         AS mean_fp,
        |       CAST(nqss * 1000000 // (CAST(n AS HUGEINT) * (n - 1))
        |         AS BIGINT) AS var_fp,
        |       CAST(nqss * 1000000 // CAST(s AS HUGEINT) AS BIGINT)
        |         AS dispersion_fp,
        |       CAST(nqss * 1000000 // (CAST(s AS HUGEINT) * (n - 1))
        |         AS BIGINT) AS vmr_fp
        |FROM g""".stripMargin,

    // same exact moment rationals, same NULL arm at v <= m
    "negbin_fit_daily" ->
      """WITH daily AS (
        |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |           AS di,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(x) AS BIGINT) AS s,
        |             sum(CAST(x AS HUGEINT) * x) AS q
        |      FROM daily),
        |g AS (SELECT n, s,
        |             CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s
        |               AS nqss
        |      FROM m WHERE n >= 2 AND s > 0),
        |h AS (SELECT n, s, nqss,
        |             nqss - CAST(s AS HUGEINT) * (n - 1) AS over
        |      FROM g)
        |SELECT n AS n_days, s AS n_events,
        |  CASE WHEN over > 0 THEN
        |    CAST(CAST(s AS HUGEINT) * s * (n - 1) * 1000000
        |      // (CAST(n AS HUGEINT) * over) AS BIGINT)
        |  ELSE NULL END AS r_fp,
        |  CASE WHEN over > 0 THEN
        |    CAST(CAST(s AS HUGEINT) * (n - 1) * 1000000 // nqss AS BIGINT)
        |  ELSE NULL END AS p_fp
        |FROM h""".stripMargin,

    // same shared hour constants (hourFp, injected verbatim), same
    // exact z rational, identical R̄ leaf
    "circular_hour_stats" ->
      s"""WITH hrs(h, cfp, sfp) AS (VALUES $hourValuesSql),
         |byh AS MATERIALIZED (
         |  SELECT e.event_type, hour(e.ts) AS h,
         |         CAST(count(*) AS BIGINT) AS cnt
         |  FROM events e GROUP BY 1, 2),
         |pk AS (
         |  SELECT event_type, h AS peak_hour, cnt AS peak_cnt FROM (
         |    SELECT *, row_number() OVER (PARTITION BY event_type
         |      ORDER BY cnt DESC, h) AS pr FROM byh)
         |  WHERE pr = 1),
         |agg AS (
         |  SELECT b.event_type, CAST(sum(b.cnt) AS BIGINT) AS n,
         |         sum(CAST(b.cnt AS HUGEINT) * t.cfp) AS c,
         |         sum(CAST(b.cnt AS HUGEINT) * t.sfp) AS s
         |  FROM byh b JOIN hrs t ON t.h = b.h
         |  GROUP BY b.event_type)
         |SELECT a.event_type, a.n,
         |  CAST(p.peak_hour AS BIGINT) AS peak_hour,
         |  CAST(p.peak_cnt * 1000000 // a.n AS BIGINT) AS peak_share_fp,
         |  CAST(FLOOR(sqrt(CAST(c * c + s * s AS DOUBLE))
         |    / (CAST(a.n AS DOUBLE) * 1000000.0)
         |    * 1000000.0) AS BIGINT) AS rbar_fp,
         |  CAST((c * c + s * s) // (CAST(a.n AS HUGEINT) * 1000000)
         |    AS BIGINT) AS rayleigh_z_fp
         |FROM agg a JOIN pk p ON p.event_type = a.event_type
         |ORDER BY a.event_type""".stripMargin,

    // same pinned distinct-rank tie-break, same exact S identity and
    // W / Friedman rationals
    "kendall_w_concordance" ->
      """WITH cells AS (
        |  SELECT event_type,
        |         (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |rk AS (
        |  SELECT event_type, dow,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY cnt, dow) AS rk
        |  FROM cells),
        |rs AS (
        |  SELECT dow, CAST(count(*) AS BIGINT) AS k,
        |         CAST(sum(rk) AS BIGINT) AS rj
        |  FROM rk GROUP BY dow),
        |m AS (
        |  SELECT CAST(max(k) AS BIGINT) AS k,
        |         CAST(count(*) AS BIGINT) AS n,
        |         sum(CAST(rj AS HUGEINT) * rj) AS rj2,
        |         sum(CAST(rj AS HUGEINT)) AS rjs
        |  FROM rs),
        |sstat AS (
        |  SELECT k, n, rj2 - (rjs * rjs) // n AS s_dec FROM m)
        |SELECT k, n, CAST(s_dec AS BIGINT) AS s_stat,
        |  CAST(CAST(s_dec AS HUGEINT) * 12 * 1000000
        |    // (CAST(k AS HUGEINT) * k * n * (n * n - 1)) AS BIGINT)
        |    AS w_fp,
        |  CAST(CAST(s_dec AS HUGEINT) * 12 * (n - 1) * 1000000
        |    // (CAST(k AS HUGEINT) * n * (n * n - 1)) AS BIGINT)
        |    AS friedman_chi2_fp
        |FROM sstat""".stripMargin,

    // the SAME integer Durbin–Levinson recursion as a recursive CTE
    // carrying the φ row as a LIST; // truncates toward zero on both
    // engines (measured) so every product/ratio matches Scala `/`
    "pacf_durbin_levinson" ->
      s"""WITH RECURSIVE $acfTermsDuck,
         |acf AS (
         |  SELECT CAST(lag AS BIGINT) AS lag,
         |         CAST(${signedFpDivDuck("num", "den")} AS BIGINT) AS r_fp
         |  FROM terms),
         |ml AS (SELECT CAST(coalesce(max(a.lag), 0) AS BIGINT) AS max_l
         |       FROM acf a
         |       WHERE (SELECT count(*) FROM acf b WHERE b.lag <= a.lag)
         |             = a.lag),
         |rl AS (SELECT list(r_fp ORDER BY lag) AS r
         |       FROM acf CROSS JOIN ml WHERE lag <= max_l),
         |dl AS (
         |  SELECT CAST(1 AS BIGINT) AS k, [r[1]] AS phi, r[1] AS pacf, r
         |  FROM rl CROSS JOIN ml WHERE max_l >= 1
         |  UNION ALL
         |  SELECT k + 1,
         |    list_append([phi[j] - (pn * phi[CAST(k AS INT) + 1 - j])
         |        // 1000000
         |      FOR j IN generate_series(1, CAST(k AS INT))], pn),
         |    pn, r
         |  FROM (
         |    SELECT k, phi, r,
         |           CASE WHEN num >= 0 THEN num * 1000000 // den
         |                ELSE -((-num) * 1000000 // den) END AS pn
         |    FROM (
         |      SELECT k, phi, r,
         |        r[CAST(k AS INT) + 1]
         |          - list_sum([(phi[j] * r[CAST(k AS INT) + 1 - j])
         |              // 1000000
         |            FOR j IN generate_series(1, CAST(k AS INT))]) AS num,
         |        1000000
         |          - list_sum([(phi[j] * r[j]) // 1000000
         |            FOR j IN generate_series(1, CAST(k AS INT))]) AS den
         |      FROM dl CROSS JOIN ml WHERE k < max_l) t
         |    WHERE den > 0) t2)
         |SELECT k AS lag, CAST(pacf AS BIGINT) AS pacf_fp
         |FROM dl ORDER BY lag""".stripMargin,

    // same integer match predicate over lead-shifted template rows
    "sample_entropy_daily" -> {
      def p(u: String, v: String) =
        s"25 * ($u - $v) * ($u - $v) * n * (n - 1) <= nqss"
      s"""WITH daily AS MATERIALIZED (
         |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
         |           AS di,
         |         CAST(count(*) AS BIGINT) AS x
         |  FROM events GROUP BY 1),
         |idx AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY di) AS rk, x FROM daily),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |              CAST(sum(x) AS BIGINT) AS s,
         |              CAST(sum(x * x) AS BIGINT) AS q FROM idx),
         |g AS (SELECT n, n * q - s * s AS nqss FROM st),
         |w3 AS MATERIALIZED (
         |  SELECT rk, x, lead(x, 1) OVER (ORDER BY rk) AS x1,
         |         lead(x, 2) OVER (ORDER BY rk) AS x2
         |  FROM idx),
         |f AS (
         |  SELECT CAST(sum(CASE WHEN ${p("a.x", "b.x")}
         |           AND ${p("a.x1", "b.x1")} THEN 1 ELSE 0 END)
         |           AS BIGINT) AS b_cnt,
         |         CAST(sum(CASE WHEN ${p("a.x", "b.x")}
         |           AND ${p("a.x1", "b.x1")} AND ${p("a.x2", "b.x2")}
         |           THEN 1 ELSE 0 END) AS BIGINT) AS a_cnt
         |  FROM w3 a, w3 b, g
         |  WHERE a.rk < b.rk AND b.rk <= n - 2)
         |SELECT n AS n_days, b_cnt, a_cnt,
         |       CASE WHEN a_cnt > 0 AND b_cnt > 0
         |         THEN CAST(FLOOR(ln(CAST(b_cnt AS DOUBLE) / a_cnt)
         |           * 1000000.0) AS BIGINT)
         |         ELSE NULL END AS sampen_fp
         |FROM f CROSS JOIN g
         |WHERE n >= 4 AND nqss > 0""".stripMargin
    },

    // same s-scaled block deviations / FLOOR'd R-S leaves / closed-
    // form log-log slope
    "hurst_rs_daily" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |           AS di,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |rnk AS MATERIALIZED (
        |  SELECT row_number() OVER (ORDER BY di) AS rn, x FROM daily),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rnk),
        |sized AS MATERIALIZED (
        |  SELECT r.rn, r.x, s.s, (r.rn - 1) // s.s AS blk
        |  FROM rnk r CROSS JOIN nn
        |  CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS s) s
        |  WHERE r.rn <= (n // s.s) * s.s),
        |bt AS (SELECT s, blk, CAST(sum(x) AS BIGINT) AS sb,
        |              CAST(sum(x * x) AS BIGINT) AS qb
        |       FROM sized GROUP BY 1, 2),
        |cum AS (
        |  SELECT z.s, z.blk, bt.sb, bt.qb,
        |         CAST(sum(z.s * z.x - bt.sb) OVER (
        |           PARTITION BY z.s, z.blk ORDER BY z.rn) AS BIGINT) AS z
        |  FROM sized z JOIN bt ON bt.s = z.s AND bt.blk = z.blk),
        |blocks AS (
        |  SELECT s, blk, sb, qb, max(z) AS zmax, min(z) AS zmin,
        |         s * qb - sb * sb AS nqss_b
        |  FROM cum GROUP BY s, blk, sb, qb),
        |persize AS (
        |  SELECT s,
        |         CAST(count(*) FILTER (WHERE nqss_b > 0) AS BIGINT)
        |           AS n_blocks,
        |         CAST(count(*) FILTER (WHERE nqss_b <= 0) AS BIGINT)
        |           AS n_skipped,
        |         CAST(coalesce(sum(CASE WHEN nqss_b > 0
        |           THEN CAST(FLOOR(CAST(zmax - zmin AS DOUBLE)
        |             / sqrt(CAST(nqss_b AS DOUBLE)) * 1000000.0)
        |             AS BIGINT) ELSE 0 END), 0) AS BIGINT) AS sum_rs
        |  FROM blocks GROUP BY s),
        |ps AS (SELECT s, n_blocks, n_skipped,
        |              CAST(sum_rs // n_blocks AS BIGINT) AS mean_rs_fp
        |       FROM persize WHERE n_blocks >= 1),
        |pts AS (
        |  SELECT CAST(FLOOR(ln(CAST(s AS DOUBLE)) * 1000000.0) AS BIGINT)
        |           AS px,
        |         CAST(FLOOR(ln(CAST(mean_rs_fp AS DOUBLE) / 1000000.0)
        |           * 1000000.0) AS BIGINT) AS py
        |  FROM ps WHERE mean_rs_fp > 0),
        |mo AS (SELECT CAST(count(*) AS BIGINT) AS p,
        |              CAST(sum(px) AS BIGINT) AS sx,
        |              CAST(sum(py) AS BIGINT) AS sy,
        |              CAST(sum(px * py) AS BIGINT) AS sxy,
        |              CAST(sum(px * px) AS BIGINT) AS sxx
        |       FROM pts),
        |h AS (
        |  SELECT CASE WHEN p >= 2 AND
        |           CAST(p AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx > 0
        |         THEN CASE WHEN
        |             CAST(p AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
        |               >= 0
        |           THEN CAST((CAST(p AS HUGEINT) * sxy
        |               - CAST(sx AS HUGEINT) * sy) * 1000000
        |             // (CAST(p AS HUGEINT) * sxx
        |               - CAST(sx AS HUGEINT) * sx) AS BIGINT)
        |           ELSE -CAST((-(CAST(p AS HUGEINT) * sxy
        |               - CAST(sx AS HUGEINT) * sy)) * 1000000
        |             // (CAST(p AS HUGEINT) * sxx
        |               - CAST(sx AS HUGEINT) * sx) AS BIGINT) END
        |         ELSE NULL END AS hurst_fp
        |  FROM mo)
        |SELECT ps.s, ps.n_blocks, ps.n_skipped, ps.mean_rs_fp, h.hurst_fp
        |FROM ps CROSS JOIN h ORDER BY ps.s""".stripMargin,

    // same n·D-scaled integer residuals; lag window is the adjacency
    "durbin_watson_ols" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |           AS di,
        |         CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |m0 AS (SELECT min(di) AS di0 FROM daily),
        |td AS MATERIALIZED (
        |  SELECT CAST(di AS BIGINT) AS di, CAST(di - di0 AS BIGINT) AS t, y
        |  FROM daily CROSS JOIN m0),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(t) AS BIGINT) AS st,
        |             CAST(sum(y) AS BIGINT) AS sy,
        |             CAST(sum(t * y) AS BIGINT) AS sty,
        |             CAST(sum(t * t) AS BIGINT) AS stt
        |      FROM td),
        |md AS (SELECT n, st, sy,
        |              CAST(n AS HUGEINT) * stt - CAST(st AS HUGEINT) * st
        |                AS dd,
        |              CAST(n AS HUGEINT) * sty - CAST(st AS HUGEINT) * sy
        |                AS bb
        |       FROM m),
        |mc AS (SELECT n, dd, bb, dd * sy - bb * st AS cc FROM md),
        |e0 AS (SELECT td.di, mc.n,
        |             CAST(mc.n AS HUGEINT) * mc.dd * td.y - mc.cc
        |               - CAST(mc.n AS HUGEINT) * mc.bb * td.t AS e0
        |      FROM td CROSS JOIN mc WHERE mc.n >= 3 AND mc.dd > 0),
        |e AS (SELECT di, n,
        |        CASE WHEN abs(e0) < 100000000000000000 THEN e0
        |        ELSE CAST(error('durbin_watson_ols: |E_t| >= 1e17 '
        |          || 'exceeds the exact-decimal envelope') AS HUGEINT)
        |        END AS e_t
        |      FROM e0),
        |l AS (SELECT n, e_t, lag(e_t) OVER (ORDER BY di) AS e_prev
        |      FROM e),
        |agg AS (SELECT n, sum(e_t * e_t) AS sum_e2,
        |               sum(CASE WHEN e_prev IS NULL THEN 0
        |                   ELSE (e_t - e_prev) * (e_t - e_prev) END)
        |                 AS sum_d2
        |        FROM l GROUP BY n)
        |SELECT n AS n_days,
        |       CAST(sum_d2 * 1000000 // sum_e2 AS BIGINT) AS dw_fp
        |FROM agg WHERE sum_e2 > 0""".stripMargin,

    // the SAME three rounds unrolled as CTE stages; argmax via
    // ORDER BY dev DESC, di LIMIT 1; shared-text IEEE R leaf
    "gesd_outlier_daily" -> {
      def stage(i: Int, src: String): String =
        s"""m$i AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |             CAST(sum(x) AS BIGINT) AS s,
           |             sum(CAST(x AS HUGEINT) * x) AS q FROM $src),
           |g$i AS (SELECT n, s,
           |              CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s
           |                AS nqss
           |       FROM m$i),
           |c$i AS (SELECT di, x FROM $src CROSS JOIN g$i
           |       WHERE n >= 4 AND nqss > 0
           |       ORDER BY abs(CAST(n AS HUGEINT) * x - s) DESC, di
           |       LIMIT 1),
           |r$i AS (SELECT CAST($i AS BIGINT) AS iter,
           |              c$i.di AS removed_day, c$i.x AS removed_x,
           |              g$i.n AS n_kept,
           |              CAST(FLOOR(CAST(abs(CAST(g$i.n AS HUGEINT) * c$i.x
           |                  - g$i.s) AS DOUBLE)
           |                / sqrt(CAST(g$i.nqss AS DOUBLE) * g$i.n
           |                  / (g$i.n - 1.0)) * 1000000.0) AS BIGINT)
           |                AS r_fp
           |       FROM c$i CROSS JOIN g$i)""".stripMargin
      s"""WITH daily AS MATERIALIZED (
         |  SELECT CAST(datediff('day', DATE '1970-01-01',
         |           CAST(ts AS DATE)) AS BIGINT) AS di,
         |         CAST(count(*) AS BIGINT) AS x
         |  FROM events GROUP BY 1),
         |${stage(1, "daily")},
         |d2 AS MATERIALIZED (SELECT * FROM daily
         |  WHERE di NOT IN (SELECT di FROM c1)),
         |${stage(2, "d2")},
         |d3 AS MATERIALIZED (SELECT * FROM d2
         |  WHERE di NOT IN (SELECT di FROM c2)),
         |${stage(3, "d3")}
         |SELECT * FROM r1 UNION ALL SELECT * FROM r2
         |UNION ALL SELECT * FROM r3 ORDER BY iter""".stripMargin
    },

    "cohort_ltv_curve" ->
      """WITH ords AS (
        |  SELECT o_custkey, year(o_orderdate) * 12 + month(o_orderdate) AS mi,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |cohort AS (SELECT o_custkey, min(mi) AS cohort_mi
        |           FROM ords GROUP BY 1),
        |sizes AS (SELECT cohort_mi, CAST(count(*) AS BIGINT) AS n_users
        |          FROM cohort GROUP BY 1),
        |cube0 AS (
        |  SELECT c.cohort_mi, o.mi - c.cohort_mi AS age,
        |         CAST(sum(o.cents) AS BIGINT) AS rev_cents
        |  FROM ords o JOIN cohort c ON c.o_custkey = o.o_custkey
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT cohort_mi, age, rev_cents,
        |         CAST(sum(rev_cents) OVER (PARTITION BY cohort_mi
        |           ORDER BY age) AS BIGINT) AS cum_rev_cents
        |  FROM cube0)
        |SELECT CAST(c.cohort_mi AS INTEGER) AS cohort_mi,
        |       CAST(c.age AS INTEGER) AS age,
        |       s.n_users, c.rev_cents, c.cum_rev_cents
        |FROM cum c JOIN sizes s ON s.cohort_mi = c.cohort_mi
        |WHERE c.age <= 11
        |ORDER BY c.cohort_mi, c.age""".stripMargin,

    // calendar-bounded twin: the pair expansion is a year self-join of
    // the ≤(years × 12) monthly table — bounded, so the join the Spark
    // side avoids on the fact stream is fine on the aggregate here
    "seasonal_mann_kendall" ->
      """WITH monthly AS (
        |  SELECT year(CAST(o_orderdate AS DATE)) AS yr,
        |         month(CAST(o_orderdate AS DATE)) AS season,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |           AS BIGINT) AS rev
        |  FROM orders GROUP BY 1, 2),
        |sm AS (
        |  SELECT CAST(a.season AS BIGINT) AS season,
        |         CAST(sum(CAST(sign(CAST(b.rev - a.rev AS DOUBLE))
        |           AS BIGINT)) AS BIGINT) AS s_m
        |  FROM monthly a JOIN monthly b
        |    ON b.season = a.season AND b.yr > a.yr
        |  GROUP BY 1),
        |ny AS (
        |  SELECT CAST(season AS BIGINT) AS season,
        |         CAST(count(*) AS BIGINT) AS n_years
        |  FROM monthly GROUP BY 1),
        |tie AS (
        |  SELECT CAST(season AS BIGINT) AS season,
        |         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_sum
        |  FROM (SELECT season, rev, CAST(count(*) AS BIGINT) AS t
        |        FROM monthly GROUP BY 1, 2)
        |  GROUP BY 1),
        |seasons AS (
        |  SELECT ny.season, ny.n_years, sm.s_m,
        |         ny.n_years * (ny.n_years - 1) * (2 * ny.n_years + 5)
        |           - tie.tie_sum AS var18_m
        |  FROM ny JOIN sm USING (season) JOIN tie USING (season)
        |  WHERE ny.n_years >= 2),
        |tot AS (
        |  SELECT CAST(sum(s_m) AS BIGINT) AS s_tot,
        |         CAST(sum(var18_m) AS BIGINT) AS var18_tot
        |  FROM seasons),
        |z AS (
        |  SELECT s_tot, var18_tot,
        |         CASE WHEN var18_tot > 0 THEN round(
        |           (CASE WHEN s_tot > 0 THEN s_tot - 1
        |                 WHEN s_tot < 0 THEN s_tot + 1 ELSE 0 END)
        |           / sqrt(var18_tot / 18.0), 6)
        |         ELSE NULL END AS z_val
        |  FROM tot)
        |SELECT s.season, s.n_years, s.s_m, CAST(s.var18_m AS BIGINT)
        |         AS var18_m,
        |       z.s_tot, z.var18_tot, z.z_val
        |FROM seasons s CROSS JOIN z ORDER BY s.season""".stripMargin,

    // same n-scaled partial-sum integers; window prefix as the twin
    "kpss_level_daily" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS di,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |r AS (SELECT di, x,
        |        CAST(row_number() OVER (ORDER BY di) AS BIGINT) AS rn,
        |        CAST(sum(x) OVER (ORDER BY di) AS BIGINT) AS cx
        |      FROM daily),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(x) AS BIGINT) AS s1,
        |             sum(CAST(x AS HUGEINT) * x) AS s2
        |      FROM daily),
        |q AS (SELECT sum((CAST(cx AS HUGEINT) * n - CAST(rn AS HUGEINT) * s1)
        |             * (CAST(cx AS HUGEINT) * n - CAST(rn AS HUGEINT) * s1))
        |             AS qsum,
        |             max(n) AS n, max(s1) AS s1, max(s2) AS s2
        |      FROM r CROSS JOIN m),
        |g AS (SELECT qsum, n,
        |             CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS vn
        |      FROM q)
        |SELECT n AS n_days,
        |  CASE WHEN n >= 2 AND vn > 0 THEN
        |    CAST(qsum * 1000000 // (CAST(n AS HUGEINT) * n * vn) AS BIGINT)
        |  ELSE NULL END AS kpss_eta_fp
        |FROM g""".stripMargin,

    // same exact moments off the rank-shifted adjacent pairs; the β/t
    // leaves are the identical shared text
    "adf_dickey_fuller_daily" ->
      s"""WITH daily AS MATERIALIZED (
         |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS di,
         |         CAST(count(*) AS BIGINT) AS x
         |  FROM events GROUP BY 1),
         |r AS (SELECT x, row_number() OVER (ORDER BY di) AS rn FROM daily),
         |p AS (SELECT a.x AS xl, b.x - a.x AS dy
         |      FROM r a JOIN r b ON b.rn = a.rn + 1),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |             CAST(sum(xl) AS BIGINT) AS sx,
         |             CAST(sum(dy) AS BIGINT) AS sy,
         |             sum(CAST(xl AS HUGEINT) * xl) AS sxx,
         |             sum(CAST(xl AS HUGEINT) * dy) AS sxy,
         |             sum(CAST(dy AS HUGEINT) * dy) AS syy
         |      FROM p),
         |g AS (SELECT *, CAST(n AS HUGEINT) * sxx
         |               - CAST(sx AS HUGEINT) * sx AS den
         |      FROM m)
         |SELECT n AS n_pairs,
         |  CASE WHEN $adfGuard THEN ${fp6(adfBetaS)} ELSE NULL END
         |    AS beta_fp,
         |  CASE WHEN $adfGuard THEN ${fp6(adfTS)} ELSE NULL END
         |    AS df_t_fp
         |FROM g""".stripMargin,

    // same rank-shifted lags, same exact error sums, identical √ leaf
    "theil_u2_forecast" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS di,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |r AS (SELECT x, row_number() OVER (ORDER BY di) AS rn FROM daily),
        |j1 AS (SELECT CAST(count(*) AS BIGINT) AS m1,
        |              sum(CAST(b.x - a.x AS HUGEINT) * (b.x - a.x)) AS s1
        |       FROM r a JOIN r b ON b.rn = a.rn + 1),
        |j7 AS (SELECT CAST(count(*) AS BIGINT) AS m7,
        |              sum(CAST(b.x - a.x AS HUGEINT) * (b.x - a.x)) AS s7
        |       FROM r a JOIN r b ON b.rn = a.rn + 7)
        |SELECT m1, m7,
        |  CASE WHEN m1 > 0 AND m7 > 0 AND s1 > 0 THEN
        |    CAST(FLOOR(sqrt((CAST(s7 AS DOUBLE) / m7)
        |      / (CAST(s1 AS DOUBLE) / m1)) * 1000000.0) AS BIGINT)
        |  ELSE NULL END AS u2_fp
        |FROM j1 CROSS JOIN j7""".stripMargin,

    // identical integer recurrence replayed as a recursive CTE
    // (holt_winters precedent); same seed/update conventions
    "croston_intermittent_demand" ->
      s"""WITH RECURSIVE demand AS MATERIALIZED (
         |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
         |           AS di,
         |         CAST(count(*) AS BIGINT) AS z
         |  FROM events
         |  WHERE event_type = 'purchase' AND value > $CrostonValueMin
         |  GROUP BY 1),
         |idx AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY di) AS rk,
         |         CAST(di AS BIGINT) AS di, z
         |  FROM demand),
         |cr AS (
         |  SELECT CAST(1 AS BIGINT) AS rk, di, z,
         |         CAST(NULL AS BIGINT) AS q,
         |         z * 1000000 AS zhat, CAST(1000000 AS BIGINT) AS phat
         |  FROM idx WHERE rk = 1
         |  UNION ALL
         |  SELECT i.rk, i.di, i.z, i.di - h.di,
         |         (i.z * 1000000 + 4 * h.zhat) // 5,
         |         ((i.di - h.di) * 1000000 + 4 * h.phat) // 5
         |  FROM cr h JOIN idx i ON i.rk = h.rk + 1)
         |SELECT di AS day, z, q, zhat AS z_hat_fp, phat AS p_hat_fp,
         |       CAST(CAST(zhat AS HUGEINT) * 1000000 // phat AS BIGINT)
         |         AS croston_fp,
         |       CAST(CAST(zhat AS HUGEINT) * 900000 // phat AS BIGINT)
         |         AS sba_fp
         |FROM cr WHERE rk >= 2 ORDER BY day""".stripMargin,

    // same shared fixed-point trig constants (trigFp, injected
    // verbatim), same DIV-by-n centering, same integer power share
    "periodogram_power_share" ->
      s"""WITH daily AS MATERIALIZED (
         |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
         |           AS di,
         |         CAST(count(*) AS BIGINT) AS x
         |  FROM events GROUP BY 1),
         |d0 AS (SELECT min(di) AS di0, CAST(count(*) AS BIGINT) AS n,
         |              CAST(sum(x) AS BIGINT) AS s_tot FROM daily),
         |trig(p, k, cfp, sfp) AS (VALUES $trigValuesSql),
         |terms AS (
         |  SELECT t.p, t.cfp, t.sfp, dy.x
         |  FROM daily dy CROSS JOIN d0
         |  JOIN trig t ON t.k = (dy.di - d0.di0) % t.p),
         |perp AS MATERIALIZED (
         |  SELECT p, CAST(count(*) AS BIGINT) AS n_terms,
         |         sum(CAST(x AS HUGEINT) * cfp) AS sxc,
         |         sum(CAST(x AS HUGEINT) * sfp) AS sxs,
         |         sum(CAST(cfp AS HUGEINT)) AS sc,
         |         sum(CAST(sfp AS HUGEINT)) AS ss
         |  FROM terms GROUP BY p),
         |ab AS MATERIALIZED (
         |  SELECT p, n_terms,
         |         CAST((n * sxc - s_tot * sc) // n AS BIGINT) AS abar,
         |         CAST((n * sxs - s_tot * ss) // n AS BIGINT) AS bbar
         |  FROM perp CROSS JOIN d0),
         |pw AS MATERIALIZED (
         |  SELECT p, n_terms, abar, bbar,
         |         CAST(abar AS HUGEINT) * abar
         |           + CAST(bbar AS HUGEINT) * bbar AS pow
         |  FROM ab),
         |tot AS (SELECT sum(pow) AS pow_tot FROM pw)
         |SELECT p, n_terms, abar, bbar,
         |  CASE WHEN pow_tot > 0
         |    THEN CAST(pow * 1000000 // pow_tot AS BIGINT)
         |    ELSE NULL END AS power_share_fp
         |FROM pw CROSS JOIN tot ORDER BY p""".stripMargin,

    // same scaled residual/leverage integers; identical D leaf
    "cooks_distance_topk" ->
      s"""WITH daily AS MATERIALIZED (
         |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS di,
         |         CAST(count(*) AS BIGINT) AS y
         |  FROM events GROUP BY 1),
         |m0 AS (SELECT min(di) AS di0 FROM daily),
         |td AS (SELECT CAST(di AS BIGINT) AS di, di - di0 AS t, y
         |       FROM daily CROSS JOIN m0),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |             CAST(sum(t) AS BIGINT) AS st,
         |             CAST(sum(y) AS BIGINT) AS sy,
         |             sum(CAST(t AS HUGEINT) * t) AS stt,
         |             sum(CAST(t AS HUGEINT) * y) AS sty
         |      FROM td),
         |g AS (SELECT *,
         |        CAST(n AS HUGEINT) * sty - CAST(st AS HUGEINT) * sy AS bnum,
         |        CAST(n AS HUGEINT) * stt - CAST(st AS HUGEINT) * st AS bden
         |      FROM m),
         |g2t AS (SELECT g.*, bden * sy - bnum * st AS cc FROM g),
         |e0 AS (SELECT td.di, td.y, g2t.n, g2t.bden,
         |        CAST(g2t.n AS HUGEINT) * g2t.bden * td.y - g2t.cc
         |          - CAST(g2t.n AS HUGEINT) * g2t.bnum * td.t AS ei0,
         |        (CAST(g2t.n AS HUGEINT) * td.t - g2t.st)
         |          * (CAST(g2t.n AS HUGEINT) * td.t - g2t.st) AS g2
         |      FROM td CROSS JOIN g2t
         |      WHERE g2t.n >= 4 AND g2t.bden > 0),
         |e AS (SELECT di, y, n, bden, g2,
         |        CASE WHEN abs(ei0) < 100000000000000000 THEN ei0
         |        ELSE CAST(error('cooks_distance_topk: |E_i| >= 1e17 '
         |          || 'exceeds the exact-decimal envelope') AS HUGEINT)
         |        END AS ei
         |      FROM e0),
         |se AS (SELECT sum(ei * ei) AS sse FROM e)
         |SELECT e.di, e.y,
         |       CAST(FLOOR(($cooksDS) * 1000000000.0) AS BIGINT)
         |         AS cooks_d_fp
         |FROM e CROSS JOIN se WHERE sse > 0
         |ORDER BY cooks_d_fp DESC, e.di LIMIT 10""".stripMargin,
  )
}
