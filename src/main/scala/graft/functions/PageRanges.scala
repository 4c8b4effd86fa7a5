package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftx.GraftSqlBridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Custom `Generator` (the UDTF surface, SURVEY.md §2.L row 4) — the
  * reference's offset fan-out planner as a native table function:
  * `range(50, total, 50)` (app.py:158) computes the remaining page
  * fetches after the first page revealed `total`. For an input row with
  * a `total`, emits one row per remaining page:
  * (page_offset, page_limit = min(step, total - page_offset)).
  *
  * Built-in `explode(sequence(...))` covers most expansion (and is what
  * §2.E uses); a custom Generator is the escape hatch for expansions
  * with logic inside the expansion itself — here the tail-page limit.
  * Generators run in GenerateExec (outside whole-stage codegen), so
  * they stay OFF hot paths; a fan-out planner emits a handful of rows
  * per parent, which is exactly the acceptable shape.
  */
case class PageRanges(total: Expression, step: Expression)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(total, step)

  override def checkInputDataTypes(): TypeCheckResult = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, ShortType}
    val ok = children.forall(_.dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires integral (total, step), got " +
        children.map(_.dataType.sql).mkString(", "))
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("page_offset", LongType, nullable = false),
    StructField("page_limit", LongType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = total.eval(input) match {
      case null => return Iterator.empty
      case n: Number => n.longValue()
    }
    val st = step.eval(input) match {
      case null => return Iterator.empty
      case n: Number => n.longValue()
    }
    if (st <= 0) Iterator.empty
    else Iterator.range(1L, (t + st - 1) / st)
      .map(i => InternalRow(i * st, math.min(st, t - i * st)))
  }

  override def prettyName: String = "page_ranges"

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PageRanges =
    copy(total = newChildren(0), step = newChildren(1))
}

object PageRanges {
  /** `page_ranges(total, step)` as a generator Column for `select`. */
  def of(total: Column, step: Int): Column =
    GraftSqlBridge.column(PageRanges(GraftSqlBridge.expression(total), Literal(step)))
}
