package graft

import org.apache.spark.sql.SparkSession

import org.apache.spark.sql.functions._

/** Scalar UDF surface (SURVEY.md §2.L): demonstrates registration and
  * the reason it is banned from hot paths — a Scala UDF is
  * Catalyst-opaque, so predicates wrapped in one cannot push down to the
  * parquet scan, while the equivalent built-in predicate can.
  */
class UdfSpec extends SparkSpec {

  test("scalar UDF works but blocks predicate pushdown (built-in pushes)") {
    val li = Tables.lineitem(spark, sf())
    val bigQty = udf((q: Double) => q > 30.0)

    val viaUdf = li.filter(bigQty(col("l_quantity")))
    val viaBuiltin = li.filter(col("l_quantity") > 30.0)

    // identical semantics...
    assert(viaUdf.count() === viaBuiltin.count())

    // ...but only the built-in predicate reaches the scan
    def pushed(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
        .linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed(viaBuiltin).contains("GreaterThan(l_quantity,30.0)"))
    assert(!pushed(viaUdf).contains("GreaterThan"))
  }

  test("run_length_stats: exact (total, distinct, max_run) over sorted arrays") {
    def stats(sql: String): Seq[Long] =
      spark.range(1).select(graft.functions.RunLengthStats.of(expr(sql)).as("s"))
        .head().getSeq[Long](0)
    assert(stats("sort_array(array('b','a','b','a','b'))") === Seq(5L, 2L, 3L))
    assert(stats("array('x')") === Seq(1L, 1L, 1L))
    assert(stats("CAST(array() AS ARRAY<STRING>)") === Seq(0L, 0L, 0L))
    // null slots: counted in total, excluded from runs
    assert(stats("array('a', CAST(NULL AS STRING), 'a')") === Seq(3L, 1L, 2L))
    // interpreted path must agree with codegen (eval on a literal)
    val e = graft.functions.RunLengthStats(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq("a", "a", "c"),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)))
    assert(e.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq === Seq(3L, 2L, 2L))
  }

  test("GraftExtensions installs fixed_dot at session build (no register call)") {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    try {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      // a fresh session on the same context, extensions applied at build
      // time — the spark.sql.extensions=graft.GraftExtensions deployment
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val row = s2.sql(
        "SELECT fixed_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)), " +
          "array(CAST(2.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS d")
        .head().getLong(0)
      assert(row === 4L * 1000000000000000L) // (1.5·2 + 2·0.5) · 1e15
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
