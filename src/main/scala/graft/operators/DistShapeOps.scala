package graft.operators

import graft.{OpGroup, Tables}
import graft.Det.fp6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distribution-shape tests over the event value stream (round 13) —
  * the three standard "is this the distribution I think it is" reads
  * that precede every parametric choice in the X/Y stat families:
  *
  *   - Jarque–Bera (Jarque & Bera 1980): moment-based normality via
  *     skewness and excess kurtosis — the gate before anything that
  *     assumes Gaussian values (z-scores, EWMA limits, t-tests).
  *   - Mood's median test (Mood 1950): the 2×2 χ² of above/below the
  *     pooled median across weekend/weekday — the maximally
  *     outlier-robust location test (only the sign vs the median is
  *     used), the cross-check when mann_whitney's rank assumptions
  *     are in doubt.
  *   - Cramér–von Mises two-sample (Anderson 1962): the INTEGRATED
  *     ECDF gap between click and purchase values — reads the whole
  *     distribution where KS reads only the max gap, so diffuse shape
  *     differences that KS misses still register.
  *
  * Scale & exactness: all three fold from map-side-combinable
  * aggregates — JB from one (n, Σv, Σv², Σv³, Σv⁴) moment pass
  * (DECIMAL(38,0)/HUGEINT lifts; envelope: exact to |v| ≤ 1e6 fixed
  * units × ~1e10 rows at the Σv⁴ term), Mood and CvM from the
  * value-SUPPORT table (the ks_two_sample pattern: groupBy v_fp then
  * GlobalRank prefix sums — support-bounded, never a partition-less
  * window). Mood and CvM are PURE integer end to end (the χ² and T
  * statistics are exact rationals, emitted as 1e-6 truncating
  * fixed point); JB ends in ONE shared-text IEEE leaf over the five
  * exact moments.
  */
object DistShapeOps extends OpGroup {

  /** Shared-text central-moment leaves over the exact integer moments
    * (n, s1..s4) — every operand cast to DOUBLE before any literal
    * touches it (the r12 decimal-literal hazard).
    */
  private val muS = "(CAST(s1 AS DOUBLE) / n)"
  private val r2S = "(CAST(s2 AS DOUBLE) / n)"
  private val r3S = "(CAST(s3 AS DOUBLE) / n)"
  private val r4S = "(CAST(s4 AS DOUBLE) / n)"
  private val m2S = s"($r2S - $muS * $muS)"
  private val m3S = s"($r3S - 3.0 * $muS * $r2S + 2.0 * $muS * $muS * $muS)"
  private val m4S =
    s"($r4S - 4.0 * $muS * $r3S + 6.0 * $muS * $muS * $r2S" +
      s" - 3.0 * $muS * $muS * $muS * $muS)"
  private val skewS = s"($m3S / pow($m2S, 1.5))"
  private val exkS = s"($m4S / ($m2S * $m2S) - 3.0)"
  private val jbS =
    s"(CAST(n AS DOUBLE) / 6.0 * ($skewS * $skewS + $exkS * $exkS / 4.0))"

  /** vn = n·s2 − s1² > 0 is the EXACT zero-variance guard (a double
    * m2 could read 0 < tiny ≠ 0 differently per engine).
    */
  private val jbGuard = "n >= 4 AND vn > 0"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "jarque_bera_value" -> ((s, d) => {
      Tables.events(s, d)
        .select(expr("CAST(round(value * 1000) AS BIGINT)").as("v"))
        .agg(count(lit(1)).as("n"), sum("v").as("s1"),
          sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("s2"),
          sum(expr("CAST(v AS DECIMAL(38,0)) * v * v")).as("s3"),
          sum(expr("CAST(v AS DECIMAL(38,0)) * v * v * v")).as("s4"))
        .withColumn("vn",
          expr("CAST(n AS DECIMAL(38,0)) * s2 - CAST(s1 AS DECIMAL(38,0)) * s1"))
        .select(col("n"),
          expr(s"CASE WHEN $jbGuard THEN ${fp6(skewS)} ELSE CAST(NULL AS BIGINT) END")
            .as("skew_fp"),
          expr(s"CASE WHEN $jbGuard THEN ${fp6(exkS)} ELSE CAST(NULL AS BIGINT) END")
            .as("exkurt_fp"),
          expr(s"CASE WHEN $jbGuard THEN ${fp6(jbS)} ELSE CAST(NULL AS BIGINT) END")
            .as("jb_fp"))
    }),

    "mood_median_test" -> ((s, d) => {
      val ev = Tables.events(s, d).select(
        expr("(unix_micros(ts) DIV 86400000000 + 4) % 7 >= 5").as("we"),
        expr("CAST(round(value * 1000) AS BIGINT)").as("v_fp"))
      val sup = ev.groupBy("v_fp").agg(
        sum(when(col("we"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("we"), 1L).otherwise(0L)).as("c2"))
      val tot = sup.agg(sum("c1").as("n1"), sum("c2").as("n2"))
      val cum = graft.functions.GlobalRank
        .prefixSum(sup, "cumt", col("c1") + col("c2"), Nil, Seq("v_fp"))
      // pooled LOWER median (the runs_test convention): smallest value
      // whose cumulative count reaches ceil(N/2)
      val med = cum.crossJoin(broadcast(tot))
        .filter(col("cumt") >= expr("(n1 + n2 + 1) DIV 2"))
        .agg(min("v_fp").as("med"))
      sup.crossJoin(broadcast(med))
        .agg(sum(when(col("v_fp") > col("med"), col("c1"))
            .otherwise(0L)).as("a"),
          sum(when(col("v_fp") > col("med"), col("c2"))
            .otherwise(0L)).as("c"))
        .crossJoin(broadcast(tot))
        .crossJoin(broadcast(med))
        .withColumn("b", col("n1") - col("a"))
        .withColumn("d", col("n2") - col("c"))
        .withColumn("chi2_fp", expr(
          """CASE WHEN a + b > 0 AND c + d > 0 AND a + c > 0 AND b + d > 0
            |THEN CAST((n1 + n2)
            |  * (CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c)
            |  * (CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c)
            |  * 1000000
            |  DIV (CAST(a + b AS DECIMAL(38,0)) * (c + d) * (a + c) * (b + d))
            |  AS BIGINT)
            |ELSE CAST(NULL AS BIGINT) END""".stripMargin.replace("\n", " ")))
        .select("med", "n1", "n2", "a", "b", "c", "d", "chi2_fp")
    }),

    "cramer_von_mises_value" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type"),
          expr("CAST(round(value * 1000) AS BIGINT)").as("v_fp"))
      val sup = ev.groupBy("v_fp").agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c1"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c2"))
      val tot = sup.agg(sum("c1").as("n1"), sum("c2").as("n2"))
      // one multi-column prefix-sum call (r18): the chained form's
      // second measuring pass re-executed the support aggregate
      val cum = graft.functions.GlobalRank.prefixSums(sup,
        Seq(("cum1", col("c1")), ("cum2", col("c2"))), Nil, Seq("v_fp"))
      // tie-aware ECDF form on the support: T = Σ_v cnt_v·(F1−F2)²
      // · n1·n2/N², cleared of both divisions —
      // T = Σ cnt·(cum1·n2 − cum2·n1)² / (N²·n1·n2), an exact rational
      cum.crossJoin(broadcast(tot))
        .agg(sum(expr(
          """(c1 + c2) * (CAST(cum1 AS DECIMAL(38,0)) * n2
            | - CAST(cum2 AS DECIMAL(38,0)) * n1)
            | * (CAST(cum1 AS DECIMAL(38,0)) * n2
            | - CAST(cum2 AS DECIMAL(38,0)) * n1)"""
            .stripMargin.replace("\n", " "))).as("s_num"),
          max("n1").as("n1"), max("n2").as("n2"))
        .withColumn("t_fp", expr(
          """CASE WHEN n1 > 0 AND n2 > 0 THEN
            |CAST(s_num * 1000000
            |  DIV (CAST(n1 + n2 AS DECIMAL(38,0)) * (n1 + n2) * n1 * n2)
            |  AS BIGINT)
            |ELSE CAST(NULL AS BIGINT) END""".stripMargin.replace("\n", " ")))
        .select("n1", "n2", "t_fp")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "jarque_bera_value" ->
      s"""WITH m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(v) AS BIGINT) AS s1,
         |         sum(CAST(v AS HUGEINT) * v) AS s2,
         |         sum(CAST(v AS HUGEINT) * v * v) AS s3,
         |         sum(CAST(v AS HUGEINT) * v * v * v) AS s4
         |  FROM (SELECT CAST(round(value * 1000) AS BIGINT) AS v
         |        FROM events)),
         |g AS (SELECT n, s1, s2, s3, s4,
         |             CAST(n AS HUGEINT) * s2
         |               - CAST(s1 AS HUGEINT) * s1 AS vn
         |      FROM m)
         |SELECT n,
         |  CASE WHEN $jbGuard THEN ${fp6(skewS)} ELSE NULL END AS skew_fp,
         |  CASE WHEN $jbGuard THEN ${fp6(exkS)} ELSE NULL END AS exkurt_fp,
         |  CASE WHEN $jbGuard THEN ${fp6(jbS)} ELSE NULL END AS jb_fp
         |FROM g""".stripMargin,

    "mood_median_test" ->
      s"""WITH ev AS (
         |  SELECT (epoch_us(ts) // 86400000000 + 4) % 7 >= 5 AS we,
         |         CAST(round(value * 1000) AS BIGINT) AS v_fp
         |  FROM events),
         |sup AS (
         |  SELECT v_fp,
         |    CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(sum(CASE WHEN NOT we THEN 1 ELSE 0 END) AS BIGINT) AS c2
         |  FROM ev GROUP BY v_fp),
         |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
         |               CAST(sum(c2) AS BIGINT) AS n2 FROM sup),
         |cum AS (SELECT v_fp, c1, c2,
         |               sum(c1 + c2) OVER (ORDER BY v_fp) AS cumt
         |        FROM sup),
         |med AS (SELECT min(v_fp) AS med FROM cum CROSS JOIN tot
         |        WHERE cumt >= (n1 + n2 + 1) // 2),
         |cells AS (
         |  SELECT med.med,
         |    CAST(sum(CASE WHEN s.v_fp > med.med THEN s.c1 ELSE 0 END)
         |      AS BIGINT) AS a,
         |    CAST(sum(CASE WHEN s.v_fp > med.med THEN s.c2 ELSE 0 END)
         |      AS BIGINT) AS c
         |  FROM sup s CROSS JOIN med GROUP BY med.med)
         |SELECT cells.med, n1, n2, a, n1 - a AS b, c, n2 - c AS d,
         |  CASE WHEN a + (n1 - a) > 0 AND c + (n2 - c) > 0
         |        AND a + c > 0 AND (n1 - a) + (n2 - c) > 0
         |  THEN CAST((n1 + n2)
         |    * (CAST(a AS HUGEINT) * (n2 - c) - CAST(n1 - a AS HUGEINT) * c)
         |    * (CAST(a AS HUGEINT) * (n2 - c) - CAST(n1 - a AS HUGEINT) * c)
         |    * 1000000
         |    // (CAST(n1 AS HUGEINT) * n2 * (a + c)
         |       * ((n1 - a) + (n2 - c))) AS BIGINT)
         |  ELSE NULL END AS chi2_fp
         |FROM cells CROSS JOIN tot""".stripMargin,

    "cramer_von_mises_value" ->
      s"""WITH ev AS (
         |  SELECT event_type, CAST(round(value * 1000) AS BIGINT) AS v_fp
         |  FROM events WHERE event_type IN ('click', 'purchase')),
         |sup AS (
         |  SELECT v_fp,
         |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS c1,
         |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS c2
         |  FROM ev GROUP BY v_fp),
         |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
         |               CAST(sum(c2) AS BIGINT) AS n2 FROM sup),
         |cum AS (SELECT v_fp, c1, c2,
         |               sum(c1) OVER (ORDER BY v_fp) AS cum1,
         |               sum(c2) OVER (ORDER BY v_fp) AS cum2
         |        FROM sup),
         |agg AS (
         |  SELECT sum((c1 + c2)
         |      * (CAST(cum1 AS HUGEINT) * n2 - CAST(cum2 AS HUGEINT) * n1)
         |      * (CAST(cum1 AS HUGEINT) * n2 - CAST(cum2 AS HUGEINT) * n1))
         |      AS s_num,
         |    max(n1) AS n1, max(n2) AS n2
         |  FROM cum CROSS JOIN tot)
         |SELECT n1, n2,
         |  CASE WHEN n1 > 0 AND n2 > 0 THEN
         |    CAST(s_num * 1000000
         |      // (CAST(n1 + n2 AS HUGEINT) * (n1 + n2) * n1 * n2)
         |      AS BIGINT)
         |  ELSE NULL END AS t_fp
         |FROM agg""".stripMargin,
  )
}
