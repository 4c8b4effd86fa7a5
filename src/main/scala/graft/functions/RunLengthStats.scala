package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.Column
import org.apache.spark.sql.graftx.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Exact run-length statistics of a SORTED string array, as one native
  * codegen'd expression: `run_length_stats(sorted_arr)` →
  * `array<long>(total, distinct, max_run)`.
  *
  * Why this exists (the FixedPointDot argument, applied to text): the
  * per-document duplicate-token/bigram stats behind repetition quality
  * gates are classically computed by explode → groupBy(doc, gram) →
  * groupBy(doc) — materializing and hash-aggregating one row per gram
  * (~n_tokens per doc) through two aggregates. But per-document stats
  * need no cross-row data at all: sort the grams within the row (the
  * codegen'd `sort_array`) and every count is a run-length scan — one
  * forward pass comparing adjacent elements, no explode, no shuffle, no
  * hash table. Exact (string equality, not hashing), so the DuckDB
  * oracle's exact GROUP BY comparison still matches bit-for-bit.
  *
  * Null elements are counted in `total` but excluded from runs (the
  * callers never produce them; defensive semantics only).
  */
case class RunLengthStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "run_length_stats"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var distinct = 0L
    var maxRun = 0L
    var run = 0L
    var i = 0
    var prev: org.apache.spark.unsafe.types.UTF8String = null
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val cur = arr.getUTF8String(i)
        if (prev == null || !cur.equals(prev)) { distinct += 1; run = 1L }
        else run += 1
        if (run > maxRun) maxRun = run
        prev = cur
      }
      i += 1
    }
    new GenericArrayData(Array(n.toLong, distinct, maxRun))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val run = ctx.freshName("run")
      val maxRun = ctx.freshName("maxRun")
      val prev = ctx.freshName("prev")
      val cur = ctx.freshName("cur")
      s"""
         |int $n = $a.numElements();
         |long $d = 0L; long $run = 0L; long $maxRun = 0L;
         |org.apache.spark.unsafe.types.UTF8String $prev = null;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    org.apache.spark.unsafe.types.UTF8String $cur = $a.getUTF8String($i);
         |    if ($prev == null || !$cur.equals($prev)) { $d++; $run = 1L; }
         |    else { $run++; }
         |    if ($run > $maxRun) { $maxRun = $run; }
         |    $prev = $cur;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  new long[] { (long) $n, $d, $maxRun });
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RunLengthStats {
  /** `run_length_stats(sorted)` as a Column. */
  def of(sorted: Column): Column =
    GraftSqlBridge.column(RunLengthStats(GraftSqlBridge.expression(sorted)))
}
