package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  import org.apache.spark.sql.types._

  /** True iff the type contains a DecimalType anywhere (nested too). */
  def hasDecimal(t: DataType): Boolean = t match {
    case _: DecimalType => true
    case s: StructType => s.fields.exists(f => hasDecimal(f.dataType))
    case a: ArrayType => hasDecimal(a.elementType)
    case m: MapType => hasDecimal(m.keyType) || hasDecimal(m.valueType)
    case _ => false
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // Optional file-split cap (spark.sql.files.maxPartitionBytes, e.g.
    // 64k): small fixture tables then read as several splits and get the
    // exchanges and range sorts of a table at scale instead of the
    // one-split fast path's single-partition plans.
    sys.env.get("SPARK_GRAFT_SPLIT_BYTES").filter(_.nonEmpty)
      .foreach(builder.config("spark.sql.files.maxPartitionBytes", _))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated filter for local iteration on a few
    // queries (same knob as Bench); the driver runs unfiltered.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = only.fold(SparkEntry.queries)(ks =>
      SparkEntry.queries.filter(kv => ks(kv._1)))
    // Failures land in _failed.json (not just stderr): a key absent from
    // the correctness artifact is otherwise indistinguishable from a key
    // never declared (CORRECTNESS_r08 silently lost 31 queries to a
    // fixture schema change — diagnosable only by diffing rounds).
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // r12 decimal ban: the driver's hash compare reds ANY decimal128
        // output column even when both engines agree on value and type
        // (r11 controlled experiment). Fail the query HERE, loudly, so a
        // decimal output can never silently re-enter the dump — wide
        // values must cross the SELECT boundary as BIGINT or strings.
        val dec = df.schema.filter(f => hasDecimal(f.dataType))
        require(dec.isEmpty,
          s"decimal128 output column(s) ${dec.map(_.name).mkString(", ")} — " +
            "banned at the SELECT boundary (driver hash reds decimals)")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/_failed.json"),
      failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
  }
}
