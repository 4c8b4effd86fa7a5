package graft

import graft.functions.ExactSum
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.GraftSqlBridge

/** One group of declared operators (SURVEY.md §2 rows). `queries` keys and
  * `oracleSql` keys must match; oracle entries are omitted for rows marked ✗
  * (covered by ScalaTest instead).
  */
trait OpGroup {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
}

/** Determinism helpers shared by every declared query (SURVEY.md §5, §7
  * "hard parts"). The driver hash-compares our parquet output against DuckDB
  * row-by-row, so every query must (a) end in a total order over non-null
  * keys, and (b) never emit a double whose value depends on fp summation
  * order. Doubles are routed through DECIMAL(18,6) before SUM/AVG — decimal
  * addition is associative, so partial (map-side) aggregation over any
  * partitioning of 100 TB yields bit-identical results to DuckDB's
  * single-node sum.
  *
  * [[dsum]], [[davg]] and [[decSum]] compute exactly
  * `sum(CAST(x AS DECIMAL(18,6)))`, the SQL their `…Sql` twins give
  * DuckDB, through [[graft.functions.ExactSum]]: a DOUBLE input runs the
  * codegen'd fixed-point kernel ([[graft.functions.Fixed6]], a two-long
  * sum buffer) instead of a `BigDecimal` per row, with the same result,
  * NULL-on-empty and overflow behavior; any other input keeps Spark's
  * `Cast` and `Sum`.
  */
object Det {
  /** Order-insensitive money/measure sum: Σ decimal(18,6) → double, 6dp. */
  def dsum(c: Column): Column =
    round(exactSum(c).cast("double"), 6)

  /** Matching DuckDB SQL for [[dsum]]. */
  def dsumSql(e: String): String =
    s"round(CAST(sum(CAST(($e) AS DECIMAL(18,6))) AS DOUBLE), 6)"

  /** Order-insensitive average: exact decimal sum, IEEE double division. */
  def davg(c: Column): Column =
    round(exactSum(c).cast("double") / count(c), 6)

  /** Matching DuckDB SQL for [[davg]]. */
  def davgSql(e: String): String =
    s"round(CAST(sum(CAST(($e) AS DECIMAL(18,6))) AS DOUBLE) / count($e), 6)"

  /** Exact decimal sum kept as decimal — for deterministic ORDER BY / rank
    * comparisons on aggregated measures (fp sums can reorder ties).
    */
  def decSum(c: Column): Column = exactSum(c)

  /** `sum(CAST(c AS DECIMAL(18,6)))`: DECIMAL(28,6). */
  private def exactSum(c: Column): Column =
    GraftSqlBridge.column(ExactSum(GraftSqlBridge.expression(c)).toAggregateExpression())

  def decSumSql(e: String): String = s"sum(CAST(($e) AS DECIMAL(18,6)))"

  /** Spark SQL (higher-order functions) for an order-insensitive dot
    * product of two float-array columns: per-element product in IEEE
    * double (deterministic), then an exact DECIMAL fold — so Spark's
    * sequential `aggregate` and DuckDB's group-sum agree bit-for-bit,
    * and so would any partitioned combine at cluster scale.
    */
  def dotDecExpr(a: String, b: String): String =
    s"""aggregate(
       |  zip_with($a, $b,
       |    (x, y) -> CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(20,18))),
       |  CAST(0 AS DECIMAL(38,18)),
       |  (acc, v) -> CAST(acc + v AS DECIMAL(38,18)))""".stripMargin

  /** sqrt(self-dot) as DOUBLE — the L2 norm under the same exact fold. */
  def normExpr(a: String): String =
    s"sqrt(CAST(${dotDecExpr(a, a)} AS DOUBLE))"

  /** Signed 1e6 fixed-point division `n·10⁶ / d`, truncated toward zero
    * on both engines (`n`, `d` integer expressions, d > 0).
    */
  def signedFpDiv(n: String, d: String): String =
    s"""CASE WHEN ($n) >= 0 THEN ($n) * 1000000 DIV ($d)
       |ELSE -((-($n)) * 1000000 DIV ($d)) END""".stripMargin
      .replace("\n", " ")

  /** DuckDB side of [[signedFpDiv]]. The numerator is cast to HUGEINT
    * BEFORE the ×10⁶, so the scaled product cannot overflow BIGINT; that
    * is why this is not [[signedDivDuck]] over a pre-scaled numerator.
    */
  def signedFpDivDuck(n: String, d: String): String =
    s"""CASE WHEN ($n) >= 0 THEN CAST(($n) AS HUGEINT) * 1000000 // ($d)
       |ELSE -((-CAST(($n) AS HUGEINT)) * 1000000 // ($d)) END"""
      .stripMargin.replace("\n", " ")

  /** Unscaled signed division `n / d`, truncated toward zero on both
    * engines; the caller scales `n` itself.
    */
  def signedDiv(n: String, d: String): String =
    s"""CASE WHEN ($n) >= 0 THEN ($n) DIV ($d)
       |ELSE -((-($n)) DIV ($d)) END""".stripMargin.replace("\n", " ")

  /** DuckDB side of [[signedDiv]], in HUGEINT. */
  def signedDivDuck(n: String, d: String): String =
    s"""CASE WHEN ($n) >= 0 THEN CAST(($n) AS HUGEINT) // ($d)
       |ELSE -((-CAST(($n) AS HUGEINT)) // ($d)) END"""
      .stripMargin.replace("\n", " ")

  /** Truncating (toward-zero) integer division as BIGINT, spelled so
    * Spark and DuckDB agree on negative numerators.
    */
  def truncDivSpark(a: String, b: String): String =
    s"CAST(CASE WHEN $a < 0 THEN -((-($a)) DIV ($b)) ELSE ($a) DIV ($b) END AS BIGINT)"

  /** DuckDB side of [[truncDivSpark]]. */
  def truncDivDuck(a: String, b: String): String =
    s"CAST(CASE WHEN $a < 0 THEN -((-($a)) // ($b)) ELSE ($a) // ($b) END AS BIGINT)"

  /** SQL for floor(e·10⁶) as BIGINT, the same text on both engines. */
  def fp6(e: String): String = s"CAST(FLOOR(($e) * 1000000.0) AS BIGINT)"

  /** DuckDB side of [[dotDecExpr]]: requires `FROM ... CROSS JOIN
    * range(1, dim+1) t(i)` and a GROUP BY over the pair keys.
    */
  def dotDecDuck(a: String, b: String): String =
    s"sum(CAST(CAST($a[t.i] AS DOUBLE) * CAST($b[t.i] AS DOUBLE) AS DECIMAL(20,18)))"
}
