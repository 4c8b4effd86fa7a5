package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Fixed-point dot product of two float-array columns, as a native
  * codegen'd Catalyst expression:
  *
  *   Σ_i floor(double(a_i) · double(b_i) · 10^15)  : LONG
  *
  * Why this exists (SURVEY.md §4's sanctioned performance extension,
  * the first of the engine's two; the second is [[Fixed6]], the
  * exact-sum kernel):
  * the portable formulation — `aggregate(zip_with(...))` over DECIMAL —
  * is a higher-order function, which Catalyst evaluates interpreted
  * (CodegenFallback) with a BigDecimal allocation per element; profiled
  * at ~26 s for the sf0.1 near-dup pair join. This expression compiles
  * to a primitive long loop inside WholeStageCodegen (~50× faster) while
  * keeping the result EXACT integer arithmetic: per-element IEEE double
  * products and floor are bit-deterministic on any engine, and long
  * addition is associative — so any partitioning, and the DuckDB oracle
  * (`sum(CAST(floor(a[i]*b[i]*1e15) AS BIGINT))`), produce the identical
  * value. Dim ≤ ~9000 keeps Σ within long range (terms ≤ 1e15 for
  * unit-scale embeddings).
  */
case class FixedPointDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "fixed_dot"

  // Null ELEMENTS are skipped, matching the DuckDB oracle exactly: there
  // each term is floor(a[i]*b[i]*1e15) which is NULL when a slot is NULL,
  // and sum() ignores NULL terms.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        s += math.floor(x.getFloat(i).toDouble * y.getFloat(i).toDouble * 1e15).toLong
      }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $s += (long) java.lang.Math.floor(
         |      ((double) $a.getFloat($i)) * ((double) $b.getFloat($i)) * 1e15);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column-level vector math built on [[FixedPointDot]]. Each function
  * builds the expression itself, so it resolves in any session, with or
  * without [[graft.GraftExtensions]].
  */
object VectorFunctions {

  /** `fixed_dot(a, b)`: the exact fixed-point dot as a LONG column. */
  def fixedDot(a: Column, b: Column): Column = GraftSqlBridge.column(
    FixedPointDot(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Fixed-point dot as a double (÷ 10^15 after the exact long sum). */
  def dot(a: String, b: String): Column =
    fixedDot(col(a), col(b)).cast("double") / 1e15

  /** L2 norm under the same fixed-point arithmetic. */
  def norm(a: String): Column =
    sqrt(fixedDot(col(a), col(a)).cast("double") / 1e15)

  /** Unit normalization back to FLOAT, given a precomputed norm column —
    * THE canonical normalization for every PQ/IVF surface: codebook
    * fitting, code assignment, and serving layouts must normalize
    * identically or code assignments silently degrade.
    */
  def unitNormalized(vecCol: String, normCol: String): Column =
    expr(s"transform($vecCol, x -> CAST(CAST(x AS DOUBLE) / $normCol AS FLOAT))")

  /** Matching DuckDB SQL fragments (require `CROSS JOIN range(1, dim+1)
    * t(i)` + GROUP BY, as with Det.dotDecDuck).
    */
  def dotFpDuck(a: String, b: String): String =
    s"sum(CAST(floor(CAST($a[t.i] AS DOUBLE) * CAST($b[t.i] AS DOUBLE) * 1e15) AS BIGINT))"
}
