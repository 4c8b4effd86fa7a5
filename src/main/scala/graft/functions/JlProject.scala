package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftx.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Johnson–Lindenstrauss random-sign projection of a float embedding to
  * k fixed-point coordinates, as a native codegen'd Catalyst
  * expression:
  *
  *   p_j = Σ_i sgn(i, j) · trunc(double(x_i) · 10^6)   : array<long>, length k
  *
  * The ±1 sign matrix is DERIVED, not stored: sgn(i, j) = +1 iff the
  * first hex digit of md5("i_j") is 0–7 (the top bit of the digest —
  * unbiased, and an md5 both engines compute identically, so the DuckDB
  * oracle regenerates the exact matrix from the same rule). Achlioptas
  * (2001) shows ±1 entries satisfy the JL lemma with the same distortion
  * bounds as Gaussian matrices — this is the database-friendly JL.
  *
  * Scale design: the projection is matrix-free at the executor — the
  * tiny sign table rides into generated code as one reference object
  * (PqEncode house pattern), each row folds to k longs MAP-SIDE with
  * zero joins and zero shuffles, and everything downstream of the fold
  * is k-bounded. That is precisely how a 1000-executor dimensionality
  * reduction over 100 TB of embeddings is built: no distributed matrix,
  * no gather, one narrow pass. Exactness: the fixed-point leaves are
  * toward-zero truncations (the embedding_dim_stats convention) and all
  * sums are int64 adds — any partitioning and the oracle agree
  * bit-for-bit. Envelope: |p_j| ≤ d·1e6·max|x| ≈ 4e9 at d=4096 —
  * int64 by 9 orders; squares lift to DECIMAL(38,0) downstream.
  */
case class JlProject(child: Expression, signs: Array[Array[Int]])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${other.sql}")
  }
  override def prettyName: String = "jl_project"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    JlProject.project(input.asInstanceOf[ArrayData], signs)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jlsigns", signs, "int[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.JlProject.project($c, $ref);")
  }
  override protected def withNewChildInternal(newChild: Expression): JlProject =
    copy(child = newChild)
}

object JlProject {

  /** Projection width — small enough that the k² downstream state is
    * trivial, large enough that the JL distortion is visible in specs.
    */
  val K = 8

  /** Max supported input dimension for the derived sign matrix. */
  val DimMax = 4096

  /** sgn(i, j) per the md5 rule; memoized once per JVM. */
  lazy val signMatrix: Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(DimMax, K) { (i, j) =>
      md.reset()
      val hex = md.digest(s"${i}_${j}".getBytes("UTF-8"))
      // top bit of the first digest byte = first hex digit in 0..7
      if ((hex(0) & 0x80) == 0) 1 else -1
    }
  }

  /** Static helper the generated code calls (PqEncode house pattern).
    * Dimensions beyond the derived matrix (DimMax) are silently
    * truncated — the SAME failure mode as the oracle's range(1, 4097)
    * join, so an over-long embedding degrades identically on both
    * engines instead of throwing only executor-side (ADVICE r11).
    */
  def project(arr: ArrayData, signs: Array[Array[Int]]): ArrayData = {
    val d = math.min(arr.numElements(), signs.length)
    val k = if (signs.isEmpty) 0 else signs(0).length
    val out = new Array[Long](k)
    var i = 0
    while (i < d) {
      if (!arr.isNullAt(i)) {
        val fx = (arr.getFloat(i).toDouble * 1e6).toLong
        val row = signs(i)
        var j = 0
        while (j < k) {
          out(j) += row(j) * fx
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `jl_project(emb)` under [[signMatrix]], as a Column. */
  def of(emb: Column): Column =
    GraftSqlBridge.column(JlProject(GraftSqlBridge.expression(emb), signMatrix))

  /** The sign rule as a DuckDB CTE body (i in [0, dimMax), j in [0, K)):
    * regenerates the identical matrix oracle-side from the same md5.
    * Single-line on purpose — callers embed it inside their own
    * stripMargin blocks, which would eat a leading `||` continuation.
    */
  def signsCteDuck: String =
    s"""SELECT CAST(a.i AS INT) AS i, CAST(b.j AS INT) AS j,
       |       CASE WHEN substring(md5(CAST(a.i AS VARCHAR) || '_'
       |           || CAST(b.j AS VARCHAR)), 1, 1)
       |         IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END AS sgn
       |FROM range(0, $DimMax) a(i) CROSS JOIN range(0, $K) b(j)""".stripMargin
      .replace("\n", " ")
}
