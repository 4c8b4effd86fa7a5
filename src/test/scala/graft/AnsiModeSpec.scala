package graft

import graft.functions.Fixed6Sum
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BindReferences,
  EvalMode, NumericEvalContext}
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Decimal, DecimalType, LongType}

/** SURVEY §7 flags Spark 4's ANSI default (`spark.sql.ansi.enabled=true`)
  * as a trap: a plain `CAST('12x' AS DOUBLE)` or `x / 0` THROWS under
  * ANSI and returns NULL without it. The declared queries that touch
  * fallible arithmetic therefore use the `try_` forms (`try_cast`,
  * `try_divide`), which are NULL-on-error in BOTH modes — so the rows
  * the DuckDB oracle asserts (its `TRY_CAST` / guarded CASE) are what
  * Spark produces regardless of the session's ANSI setting. This spec
  * pins that invariance explicitly, plus the underlying trap.
  */
class AnsiModeSpec extends SparkSpec {

  private def withAnsi[A](on: Boolean)(f: => A): A = {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", on.toString)
    try f finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  for (q <- Seq("try_safe_arithmetic", "validate_required"))
    test(s"$q is ANSI-invariant (the oracle's NULL-on-error rows hold in both modes)") {
      val on = withAnsi(on = true)(SparkEntry.queries(q)(spark, sf()).collect())
      val off = withAnsi(on = false)(SparkEntry.queries(q)(spark, sf()).collect())
      assert(on.nonEmpty)
      assert(on.toSeq === off.toSeq,
        s"$q output depends on spark.sql.ansi.enabled — oracle is mode-fragile")
    }

  test("the trap the try_ forms avoid: plain CAST throws under ANSI, NULLs without") {
    import spark.implicits._
    def casted = Seq("12", "12x").toDF("raw")
      .select(expr("CAST(raw AS DOUBLE)").as("v"))
    val err = withAnsi(on = true)(intercept[Exception](casted.collect()))
    assert(err.getMessage.contains("CAST_INVALID_INPUT"),
      s"expected the ANSI cast error, got: ${err.getMessage.take(200)}")
    assert(withAnsi(on = false)(casted.collect())
      .map(r => Option(r.get(0))).toSeq === Seq(Some(12.0), None))
  }

  /** The error condition anywhere in `e`'s cause chain. */
  private def condition(e: Throwable): Option[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
      case t: SparkThrowable if t.getCondition != null => t.getCondition
    }

  private def oldDsum(c: String) =
    round(sum(col(c).cast(DecimalType(18, 6))).cast("double"), 6)

  test("Det.dsum overflows like the built-in decimal sum: per-row cast") {
    import spark.implicits._
    // 999999999999.0 is the widest integral DECIMAL(18,6); 20,000 of them
    // sum exactly. 1e12 does not fit DECIMAL(18,6) at all.
    def fits = Seq.fill(20000)(999999999999.0).toDF("x")
    def wide = Seq.fill(20000)(1e12).toDF("x")
    for (on <- Seq(true, false)) withAnsi(on) {
      val want = fits.agg(oldDsum("x")).collect()
      assert(want.toSeq === Seq(Row(1.999999999998e16)))
      assert(fits.agg(Det.dsum(col("x"))).collect().toSeq === want.toSeq)
    }
    withAnsi(on = true) {
      val old = condition(intercept[Exception](wide.agg(oldDsum("x")).collect()))
      val now = condition(intercept[Exception](wide.agg(Det.dsum(col("x"))).collect()))
      assert(old.isDefined && now === old, s"old $old, new $now")
    }
    withAnsi(on = false) {
      assert(wide.agg(oldDsum("x")).collect().toSeq === Seq(Row(null)))
      assert(wide.agg(Det.dsum(col("x"))).collect().toSeq === Seq(Row(null)))
    }
  }

  test("Det.dsum overflows like the built-in decimal sum: group total past DECIMAL(28,6)") {
    // A total past 10^22 takes 10^10 rows of the widest DECIMAL(18,6), so
    // both sums' final step is compared on the buffer they hold at such a
    // total: Spark's one DECIMAL, or the two words hi*2^32 + lo.
    val ten28 = BigInt(10).pow(28)
    val totals = Seq(ten28 - 1, ten28, -(ten28 - 1), -ten28, ten28 + 1, BigInt(0))
    for (mode <- Seq(EvalMode.ANSI, EvalMode.LEGACY)) {
      val old = Sum(AttributeReference("x", DecimalType(18, 6))(), NumericEvalContext(mode))
      val now = Fixed6Sum(AttributeReference("u", LongType)(), mode)
      def run(f: => Any) =
        try Right(Option(f).map(_.asInstanceOf[Decimal].toJavaBigDecimal.stripTrailingZeros))
        catch { case e: SparkThrowable => Left(e.getCondition) }
      val oldEval = BindReferences.bindReference(old.evaluateExpression, old.aggBufferAttributes)
      val nowEval = BindReferences.bindReference(now.evaluateExpression, now.aggBufferAttributes)
      for (t <- totals) {
        val want = run(oldEval.eval(InternalRow(
          Decimal(new java.math.BigDecimal(t.bigInteger, 6)), false)))
        val got = run(nowEval.eval(InternalRow((t >> 32).toLong, (t & 0xFFFFFFFFL).toLong, false)))
        assert(got === want, s"total $t ($mode)")
        assert(want.isLeft === (mode == EvalMode.ANSI && t.abs >= ten28), s"total $t ($mode)")
      }
      // an overflowed running sum: Spark's buffer NULL, the high word NULL
      // for good — further rows and merges keep it so
      val wantNull = run(oldEval.eval(InternalRow(null, false)))
      val update = BindReferences.bindReferences(now.updateExpressions,
        now.aggBufferAttributes :+ now.child.asInstanceOf[AttributeReference])
      val merge = BindReferences.bindReferences(now.mergeExpressions,
        now.aggBufferAttributes ++ now.inputAggBufferAttributes)
      val near = Seq[Any](graft.functions.Fixed6.HiLimit - 1, 0L, false)
      val over = update.map(_.eval(InternalRow.fromSeq(near :+ (1L << 40))))
      assert(over.head == null)
      val later = update.map(_.eval(InternalRow.fromSeq(over :+ -(1L << 40))))
      val merged = merge.map(_.eval(InternalRow.fromSeq(Seq[Any](0L, 5L, false) ++ later)))
      assert(run(nowEval.eval(InternalRow.fromSeq(merged))) === wantNull)
      assert(wantNull.isLeft === (mode == EvalMode.ANSI), s"$wantNull ($mode)")
    }
  }
}
