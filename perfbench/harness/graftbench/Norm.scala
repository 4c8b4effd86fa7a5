package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Canonical text form of a collected result, and its digest.
  *
  * Two results are the same answer when they have the same column names,
  * the same number of rows and the same normalised rows in the same order
  * (every declared query ends in a total order). Columns are compared by
  * name, not position. NaN compares equal to NaN and -0.0 to 0.0, since
  * neither Spark nor the oracle promises a sign for a zero sum.
  */
object Norm {
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d == 0.0) "0.0" else java.lang.Double.toString(d)
    case f: Float =>
      if (f.isNaN) "NaN" else if (f == 0.0f) "0.0" else java.lang.Float.toString(f)
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case b: BigDecimal => value(b.bigDecimal)
    case s: String => quote(s)
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("x'", "", "'")
    case t: java.sql.Timestamp => t.toInstant.toString
    case r: Row => row(r, r.schema)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  private def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** A struct keeps its field order (it is part of the value's type). */
  private def row(r: Row, schema: StructType): String =
    if (schema == null) r.toSeq.map(value).mkString("(", ",", ")")
    else schema.fieldNames.indices
      .map(i => schema.fieldNames(i) + "=" + value(r.get(i)))
      .mkString("{", ",", "}")

  /** Column positions in name order, as the oracle compare reads them. */
  def columnOrder(schema: StructType): Array[Int] =
    schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)

  def line(r: Row, order: Array[Int]): String =
    order.map(i => value(r.get(i))).mkString("|")

  /** (row count, hex SHA-256 over the column names and every row). */
  def digest(schema: StructType, rows: Array[Row]): (Long, String) = {
    val md = MessageDigest.getInstance("SHA-256")
    val order = columnOrder(schema)
    md.update(order.map(schema.fieldNames(_)).mkString("|")
      .getBytes(StandardCharsets.UTF_8))
    rows.foreach { r =>
      md.update('\n'.toByte)
      md.update(line(r, order).getBytes(StandardCharsets.UTF_8))
    }
    (rows.length.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }
}
