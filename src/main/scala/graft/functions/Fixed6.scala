package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.QueryContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, DeclarativeAggregate, Sum}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.{CurrentOrigin, UnaryLike}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Exact sums of doubles without a `BigDecimal` per row: the engine's
  * second codegen'd performance extension (the first is
  * [[FixedPointDot]]), behind `Det.dsum`, `Det.davg` and `Det.decSum`.
  *
  * Those sums are `sum(CAST(x AS DECIMAL(18,6)))`: exact, so any
  * partitioning gives DuckDB's bits. Spark pays for that per row — the
  * cast runs `Double.toString` into a `BigDecimal`, and the DECIMAL(28,6)
  * sum buffer is too wide for a long, so every update writes a
  * `BigInteger`. Here the cast is [[Fixed6]] (DOUBLE → the unscaled long
  * of the same DECIMAL(18,6), bit for bit) and the sum is [[Fixed6Sum]]
  * (two longs, combined into DECIMAL(28,6) once per group). [[ExactSum]]
  * picks them after analysis, when the input type is known; any input
  * other than DOUBLE keeps Spark's own cast and sum.
  */
object Fixed6 {

  /** The cast every exact sum applies to its input. */
  val CastType: DecimalType = DecimalType(18, 6)

  /** Spark's result type for a sum of [[CastType]]: precision + 10. */
  val SumType: DecimalType = DecimalType(28, 6)

  /** [[unscaled]]'s answer when the fast path cannot decide; never an
    * answer itself (its inputs give |u| < 10¹⁷).
    */
  final val Undecided = Long.MinValue

  /** The unscaled long of `CAST(d AS DECIMAL(18,6))`, or [[Undecided]].
    *
    * Spark's cast rounds `Double.toString(d)` HALF_UP at six places. That
    * string round-trips, so it lies within ulp(d)/2 of d, and it rounds
    * like the exact d·10⁶ unless the exact value's fraction sits within
    * ulp(d)·10⁶ of one half. The exact value is p + err, with p = d·10⁶
    * rounded and err the product's rounding error (exact through fma).
    * Its fraction is normalized into [0, 1) before the decision: for
    * |d·10⁶| ≥ 2⁵² the product p is an integer and the fraction is err
    * alone, which can be negative. Undecided near a half, for |d| ≥ 10¹¹
    * (also beyond the fast path's use: there ulp(d)·10⁶ > 1, so every
    * value is near a half) and for NaN and ±Inf.
    */
  def unscaled(d: Double): Long =
    if (!(Math.abs(d) < 1e11)) Undecided
    else {
      val p = d * 1e6
      val f = Math.floor(p)
      val raw = (p - f) + Math.fma(d, 1e6, -p)
      val carry = Math.floor(raw)
      val frac = raw - carry
      if (Math.abs(frac - 0.5) <= Math.ulp(d) * 1e6 + 1e-9) Undecided
      else f.toLong + carry.toLong + (if (frac > 0.5) 1L else 0L)
    }

  /** Bits of a sum's low word: the buffer holds hi·2³² + lo, 0 ≤ lo < 2³². */
  val LoBits = 32

  /** A running high word at or beyond ±2⁶² marks the sum overflowed
    * (sticky NULL). Every sum that fits DECIMAL(28,6) keeps |hi| below
    * 10²⁸/2³² + 1 ≈ 2.3·10¹⁸ < 2⁶², and two words under the limit add
    * without wrapping a long.
    */
  val HiLimit: Long = 1L << 62

  /** The sum hi·2³² + lo as an unscaled DECIMAL(38,6). */
  def total(hi: Long, lo: Long): Decimal = Decimal(new JBigDecimal(
    BigInteger.valueOf(hi).shiftLeft(LoBits).add(BigInteger.valueOf(lo)), 6), 38, 6)
}

/** DOUBLE → the unscaled long of `CAST(child AS DECIMAL(18,6))`, through
  * [[Fixed6.unscaled]]. When that is undecided, a real Spark `Cast` with
  * the session's eval mode decides, so NaN, ±Inf and out-of-range values
  * give Spark's own NULL or ANSI error. The fallback cast is built here,
  * not kept as a child: a plan holds no DOUBLE→DECIMAL cast.
  */
case class Fixed6(child: Expression, evalMode: EvalMode.Value)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a double argument, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  // the fallback cast is NULL on NaN and ±Inf, and without ANSI on overflow
  override def nullable: Boolean = true
  override def prettyName: String = "fixed6"

  @transient private lazy val fallback: Expression =
    CurrentOrigin.withOrigin(origin) {
      Cast(BoundReference(0, DoubleType, nullable = false), Fixed6.CastType,
        None, evalMode)
    }

  /** The real cast of `d`; null when Spark's cast gives NULL. */
  def slow(d: Double): Decimal = fallback.eval(InternalRow(d)).asInstanceOf[Decimal]

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else {
      val d = v.asInstanceOf[Double]
      val u = Fixed6.unscaled(d)
      if (u != Fixed6.Undecided) u
      else Option(slow(d)).map(_.toUnscaledLong).orNull
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val d = child.genCode(ctx)
    val self = ctx.addReferenceObj("fixed6", this)
    val dec = ctx.freshName("dec")
    ev.copy(code = code"""
      |${d.code}
      |boolean ${ev.isNull} = ${d.isNull};
      |${CodeGenerator.javaType(dataType)} ${ev.value} = 0L;
      |if (!${ev.isNull}) {
      |  ${ev.value} = graft.functions.Fixed6.unscaled(${d.value});
      |  if (${ev.value} == java.lang.Long.MIN_VALUE) {
      |    org.apache.spark.sql.types.Decimal $dec = $self.slow(${d.value});
      |    ${ev.isNull} = $dec == null;
      |    if (!${ev.isNull}) ${ev.value} = $dec.toUnscaledLong();
      |  }
      |}""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SUM of [[Fixed6]]'s unscaled longs into DECIMAL(28,6), with Spark's
  * decimal `Sum` semantics: NULL on no non-null input, and on overflow
  * NULL without ANSI or Spark's overflow error under it.
  *
  * The buffer is two longs, hi·2³² + lo with 0 ≤ lo < 2³², so no update
  * writes a decimal. Each update and merge carries lo's 33rd bit into hi,
  * so neither word grows with the row count. hi turns NULL for good when
  * it reaches ±[[Fixed6.HiLimit]] (the old buffer turned NULL at ±10²⁸),
  * and the one DECIMAL per group is checked against DECIMAL(28,6) by
  * Spark's own `CheckOverflowInSum`.
  */
case class Fixed6Sum(child: Expression, evalMode: EvalMode.Value)
    extends DeclarativeAggregate with UnaryLike[Expression] with SupportQueryContext {

  override def dataType: DataType = Fixed6.SumType
  override def nullable: Boolean = true
  override def prettyName: String = "fixed6_sum"

  private lazy val hi = AttributeReference("hi", LongType)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val isEmpty = AttributeReference("isEmpty", BooleanType, nullable = false)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, isEmpty)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true))

  // the words never wrap (see Fixed6.HiLimit), so plain long addition
  private def plus(a: Expression, b: Expression): Expression =
    Add(a, b, NumericEvalContext(EvalMode.LEGACY))
  private def low(x: Expression): Expression = BitwiseAnd(x, Literal(0xFFFFFFFFL))
  private def high(x: Expression): Expression = ShiftRight(x, Literal(Fixed6.LoBits))
  private def limited(h: Expression): Expression =
    If(Or(GreaterThanOrEqual(h, Literal(Fixed6.HiLimit)),
      LessThanOrEqual(h, Literal(-Fixed6.HiLimit))), Literal(null, LongType), h)
  /** (hi, lo) of hi + his + (lo + los), with the low words' carry. */
  private def add(his: Expression, los: Expression): Seq[Expression] = {
    val s = plus(lo, los)
    Seq(limited(plus(plus(hi, his), high(s))), low(s))
  }

  override lazy val updateExpressions: Seq[Expression] =
    add(high(child), low(child)).zip(Seq(hi, lo))
      .map { case (next, kept) => If(IsNull(child), kept, next) } :+
      And(isEmpty, IsNull(child))

  override lazy val mergeExpressions: Seq[Expression] = {
    val s = plus(lo.left, lo.right)
    Seq(limited(plus(plus(hi.left, hi.right), high(s))), low(s),
      And(isEmpty.left, isEmpty.right))
  }

  override lazy val evaluateExpression: Expression =
    If(isEmpty, Literal(null, dataType),
      CheckOverflowInSum(Fixed6Total(hi, lo), Fixed6.SumType,
        evalMode != EvalMode.ANSI, getContextOrNull()))

  override def initQueryContext(): Option[QueryContext] =
    if (evalMode == EvalMode.ANSI) Some(origin.context) else None

  override protected def withNewChildInternal(newChild: Expression): Fixed6Sum =
    copy(child = newChild)
}

/** A [[Fixed6Sum]] buffer's two words as one DECIMAL(38,6), once per group. */
case class Fixed6Total(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DecimalType(38, 6)
  override def prettyName: String = "fixed6_total"
  override def nullSafeEval(hi: Any, lo: Any): Any =
    Fixed6.total(hi.asInstanceOf[Long], lo.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, l) => s"graft.functions.Fixed6.total($h, $l)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `sum(CAST(child AS DECIMAL(18,6)))`, the one exact sum behind
  * `Det.dsum`/`davg`/`decSum`. The input type is known only after
  * analysis, so this is replaced then: a DOUBLE input sums through
  * [[Fixed6Sum]] of [[Fixed6]], any other keeps Spark's `Cast` and `Sum`.
  * The eval mode is the session's when the column is built, as for the
  * built-in `sum`; the name is the built-in form's, so unaliased
  * columns keep theirs.
  */
case class ExactSum(
    child: Expression,
    evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
    extends AggregateFunction with RuntimeReplaceableAggregate with UnaryLike[Expression] {

  override lazy val replacement: Expression = CurrentOrigin.withOrigin(origin) {
    child.dataType match {
      case DoubleType => Fixed6Sum(Fixed6(child, evalMode), evalMode)
      case _ => Sum(Cast(child, Fixed6.CastType,
        Some(SQLConf.get.sessionLocalTimeZone), evalMode), NumericEvalContext(evalMode))
    }
  }

  override def prettyName: String = "exact_sum"
  override def sql(isDistinct: Boolean): String =
    s"sum(${Cast(child, Fixed6.CastType).sql})"

  override protected def withNewChildInternal(newChild: Expression): ExactSum =
    copy(child = newChild)
}
