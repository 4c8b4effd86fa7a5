package graftbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/** Checks of the harness's result normalisation and call-site attribution.
  * Exits non-zero on the first failed check.
  */
object SelfTest {
  private var failures = 0
  private def check(name: String, cond: => Boolean): Unit =
    if (!cond) { failures += 1; println(s"FAIL $name") } else println(s"ok   $name")

  def main(args: Array[String]): Unit = {
    // ---- normalisation ----
    check("NaN equals NaN", Norm.value(Double.NaN) == Norm.value(0.0 / 0.0))
    check("float NaN", Norm.value(Float.NaN) == "NaN")
    check("-0.0 equals 0.0", Norm.value(-0.0) == Norm.value(0.0))
    check("-0.0f equals 0.0f", Norm.value(-0.0f) == Norm.value(0.0f))
    check("doubles keep every digit", Norm.value(0.1 + 0.2) != Norm.value(0.3))
    check("decimal scale ignored",
      Norm.value(new java.math.BigDecimal("1.50")) == Norm.value(new java.math.BigDecimal("1.5")))
    check("zero decimals", Norm.value(new java.math.BigDecimal("0.000")) == "0")
    check("null", Norm.value(null) == "null")
    check("strings quoted", Norm.value("a,b") != Norm.value(Seq("a", "b")))
    check("quotes escaped", Norm.value("x\"y") == "\"x\\\"y\"")
    check("nested arrays",
      Norm.value(Seq(Seq(1.0, -0.0), Seq(Double.NaN))) == "[[1.0,0.0],[NaN]]")
    val inner = StructType(Seq(StructField("a", IntegerType), StructField("b",
      ArrayType(DoubleType))))
    val struct = new GenericRowWithSchema(Array[Any](1, Seq(-0.0, 2.5)), inner)
    check("structs keep field names and order",
      Norm.value(struct) == "{a=1,b=[0.0,2.5]}")
    check("arrays of structs",
      Norm.value(Seq(struct, null)) == "[{a=1,b=[0.0,2.5]},null]")
    check("maps sorted by key",
      Norm.value(Map("b" -> 1, "a" -> 2)) == Norm.value(Map("a" -> 2, "b" -> 1)))
    check("timestamps as instants",
      Norm.value(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).endsWith("Z"))

    val schema = StructType(Seq(StructField("z", DoubleType), StructField("a", StringType)))
    val swapped = StructType(Seq(StructField("a", StringType), StructField("z", DoubleType)))
    val rows = Array[Row](Row(1.0, "x"), Row(-0.0, "y"))
    val same = Array[Row](Row("x", 1.0), Row("y", 0.0))
    check("digest ignores column position",
      Norm.digest(schema, rows) == Norm.digest(swapped, same))
    check("digest sees row order",
      Norm.digest(schema, rows) != Norm.digest(schema, rows.reverse))
    check("digest sees column names",
      Norm.digest(schema, rows) != Norm.digest(StructType(Seq(
        StructField("z", DoubleType), StructField("b", StringType))), rows))
    check("digest counts rows", Norm.digest(schema, rows)._1 == 2L)

    // ---- call-site attribution ----
    val site = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:3520)",
      "graft.functions.GlobalRank$.rank(GlobalRank.scala:210)",
      "graft.operators.RankStatOps$.$anonfun$queries$3(RankStatOps.scala:88)",
      "graftbench.Harness$.runQuery$1(Harness.scala:120)").mkString("\n")
    check("innermost graft frame wins", Attribution.module(site) == "functions")
    check("operator closures",
      Attribution.module("graft.operators.CoreOps$.flagship(CoreOps.scala:40)") == "operators")
    check("harness frames are not program frames",
      Attribution.module("graftbench.Harness$.runQuery$1(Harness.scala:120)") == "exec")
    check("no frames", Attribution.module("") == "exec")
    check("class-loader prefix dropped",
      Attribution.module("app//graft.sources.PagedScan.planInputPartitions(PagedJsonSource.scala:345)") == "sources")
    check("layouts", Attribution.module("graft.Layout$.fingerprint(Layouts.scala:90)") == "layouts")
    check("tables", Attribution.module("graft.Tables$.events(Tables.scala:30)") == "tables")
    check("streaming package",
      Attribution.module("graft.streaming.StreamingOps$.run(StreamingOps.scala:10)") == "streaming")
    check("top-level helpers belong to operators",
      Attribution.module("graft.Det$.dsum(Ops.scala:28)") == "operators")
    val write = Seq(
      "graft.operators.LlmOps$.$anonfun$minhash$2(LlmOps.scala:60)",
      "graft.Layout.$anonfun$apply$1(Layouts.scala:44)",
      "java.util.concurrent.ConcurrentHashMap.computeIfAbsent(ConcurrentHashMap.java:1708)",
      "graft.Layout.apply(Layouts.scala:41)").mkString("\n")
    check("layout materialisation detected", Attribution.inLayoutWrite(write))
    check("layout read is not a write",
      !Attribution.inLayoutWrite("graft.Layout.apply(Layouts.scala:41)"))

    println(if (failures == 0) "all checks passed" else s"$failures checks failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
