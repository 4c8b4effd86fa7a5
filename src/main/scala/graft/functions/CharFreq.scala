package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftx.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-string character-frequency fold, as a native codegen'd Catalyst
  * expression: `char_freq(text)` → sorted `array<struct<ch:string,
  * c:bigint>>` of each code point's occurrence count.
  *
  * Why this exists (the r10 verdict's altitude note on
  * `char_entropy_by_source`): the portable formulation explodes ONE ROW
  * PER CHARACTER (`sequence(1, length(text))` + `substring`) into the
  * (source, ch) aggregate — at 100 TB that is ~1e14 rows entering the
  * partial aggregate. This expression folds each document to
  * ≤ |alphabet| cells map-side, so the explode carries per-DOC
  * frequency cells instead of per-character rows (corpus-bytes →
  * docs·|alphabet| row reduction before any aggregation). Semantics are
  * identical to the per-character explode: iteration is by Unicode code
  * point, exactly what Spark's `substring(text, i, 1)` and DuckDB's
  * `substring`/`text[i]` index by, so Σ per-doc counts = corpus counts
  * on both engines. Empty strings fold to an empty array (explode emits
  * nothing), which also closes the ADVICE r10 edge where
  * `sequence(1, 0)` DESCENDS and emitted junk rows for empty docs.
  *
  * Output is sorted by `ch` (Java string order) — deterministic under
  * any partitioning; downstream re-aggregation makes the order
  * immaterial, but the sorted form keeps the expression itself
  * bit-stable for the invariance sweep.
  */
case class CharFreq(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.sql}")
  }
  override def prettyName: String = "char_freq"
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("ch", StringType, nullable = false),
      StructField("c", LongType, nullable = false))),
    containsNull = false)
  override def nullSafeEval(input: Any): Any =
    CharFreq.fold(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CharFreq.fold($c);")
  override protected def withNewChildInternal(newChild: Expression): CharFreq =
    copy(child = newChild)
}

object CharFreq {

  /** Static helper the generated code calls (PqEncode house pattern —
    * one compiled call, no interpreted expression tree).
    */
  def fold(s: UTF8String): ArrayData = {
    val str = s.toString
    val m = new java.util.TreeMap[String, java.lang.Long]()
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      val w = Character.charCount(cp)
      val ch = str.substring(i, i + w)
      val prev = m.get(ch)
      m.put(ch, if (prev == null) 1L else prev.longValue() + 1L)
      i += w
    }
    val out = new Array[Any](m.size())
    var k = 0
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out(k) = InternalRow(UTF8String.fromString(e.getKey),
        e.getValue.longValue())
      k += 1
    }
    new GenericArrayData(out)
  }

  /** `char_freq(text)` as a Column. */
  def of(text: Column): Column =
    GraftSqlBridge.column(CharFreq(GraftSqlBridge.expression(text)))
}
