package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{col, md5}
import org.apache.spark.sql.graftx.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, LongType}

/** Product quantization (PQ) for embedding search — the memory side of
  * the 100 TB ANN story. A d-dim float vector (d bytes × 4) is cut into
  * `m` subspaces; each subvector is replaced by the id of its nearest
  * codebook centroid (k=16 → 4 bits, stored as one small int here), so
  * the scan-side representation shrinks ~32× (64 floats → 8 codes) and
  * the candidate scan streams codes instead of vectors. Scoring is
  * ADC (asymmetric distance computation): the query stays exact, the
  * corpus side is reconstructed from centroids — approx_cos(q, v) =
  * Σ_j dot(q_sub_j, codebook[j][code_j]).
  *
  * Scale shape: codebooks are model metadata (m × k × d/m doubles —
  * ~8 KB here) fitted OFFLINE on a bounded deterministic sample and
  * carried inside the encode/score expressions — [[encode]], [[adc]]
  * and [[reconErr]] take the codebook as an argument, so a plan scores
  * with the model its caller passed, never with a session-wide name;
  * encoding and scoring are pure map-side projections (whole-stage
  * codegen calls a compiled helper — no interpreted HOF tree in the hot
  * path); top-k is the same per-query window as every other ANN path.
  * Compose with the IVF cell layout for probe pruning; this file
  * demonstrates the pure PQ scan.
  *
  * Codebook fitting is Lloyd's algorithm run driver-side on the
  * collected [[fitSample]] — deterministic by construction (md5-ordered
  * init, fixed iterations, lowest-index tie-breaks). It is the engine's one
  * k-means: the IVF coarse quantizer is the same fit with one subspace
  * ([[AnnIvf.fitQuantizer]]).
  */
object AnnPq {

  /** Fixed fit-sample size: 64 training vectors per PQ centroid (k=16
    * codes × m=8 subspaces × 64). A fixed COUNT — not a fixed RATE — is
    * what makes the driver-side k-means fit 100 TB-safe: a hash-rate
    * filter collects a fraction of the corpus, which at 10⁹ vectors is a
    * driver OOM inside the layout build, and centroid quality needs
    * sample COUNT, not sample fraction.
    */
  val FIT_SAMPLE = 8192

  /** The k-means fit input shared by PQ and IVF: the first
    * min(|emb|, FIT_SAMPLE) unit-normalized embeddings in md5(vec_id)
    * order. The md5-ordered `limit` keeps the sample — and the
    * first-k-distinct Lloyd init drawn from it — identical under any
    * partitioning (TakeOrderedAndProject: each partition ships only its
    * local top-N keys).
    */
  def fitSample(emb: DataFrame): Array[Array[Float]] =
    emb.withColumn("__n", VectorFunctions.norm("embedding"))
      .select(md5(col("vec_id").cast("string")).as("h"),
        VectorFunctions.unitNormalized("embedding", "__n").as("ne"))
      .orderBy("h").limit(FIT_SAMPLE).collect()
      .map(_.getSeq[Float](1).toArray)

  /** Deterministic per-subspace codebooks: Array(m)(k)(subDim). */
  def fitCodebooks(sample: Array[Array[Float]], m: Int, k: Int,
      iters: Int = 10): Array[Array[Array[Double]]] = {
    require(sample.nonEmpty && sample.head.length % m == 0)
    val sub = sample.head.length / m
    Array.tabulate(m) { j =>
      val pts = sample.map(v => Array.tabulate(sub)(d => v(j * sub + d).toDouble))
      // init: first k distinct subvectors in input order (caller pre-sorts
      // the sample by a content hash, so init is layout-independent)
      val init = pts.distinctBy(_.toSeq).take(k)
      var cents = init ++ Array.fill(k - init.length)(init.head)
      var it = 0
      while (it < iters) {
        val sums = Array.fill(k, sub)(0.0)
        val cnts = Array.fill(k)(0L)
        pts.foreach { p =>
          val c = nearest(p, cents)
          cnts(c) += 1
          var d = 0
          while (d < sub) { sums(c)(d) += p(d); d += 1 }
        }
        cents = Array.tabulate(k)(c =>
          if (cnts(c) == 0) cents(c) // empty cluster keeps its centroid
          else Array.tabulate(sub)(d => sums(c)(d) / cnts(c)))
        it += 1
      }
      cents
    }
  }

  private def nearest(p: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cents.length) {
      var d2 = 0.0; var d = 0
      while (d < p.length) { val t = p(d) - cents(c)(d); d2 += t * t; d += 1 }
      if (d2 < bestD) { bestD = d2; best = c } // strict < : lowest index wins ties
      c += 1
    }
    best
  }

  /** Encode one (already normalized) vector to its m codes. Called from
    * generated code — keep the signature codegen-friendly.
    */
  def encodeVec(a: ArrayData, cb: Array[Array[Array[Double]]]): ArrayData = {
    val m = cb.length
    val sub = cb(0)(0).length
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      val p = new Array[Double](sub)
      var d = 0
      while (d < sub) { p(d) = a.getFloat(j * sub + d).toDouble; d += 1 }
      codes(j) = nearest(p, cb(j))
      j += 1
    }
    new GenericArrayData(codes)
  }

  /** ADC score of an exact float query against a code array, as an
    * exact FIXED-POINT long: Σ floor(q_i · cent_i · 1e15) — the same
    * convention as [[FixedPointDot]], so the sum is order-independent
    * (long addition) and bit-identical to the DuckDB oracle's
    * `sum(CAST(floor(q[i] * val * 1e15) AS BIGINT))`.
    */
  def adcDot(q: ArrayData, codes: ArrayData, cb: Array[Array[Array[Double]]]): Long = {
    val m = cb.length
    val sub = cb(0)(0).length
    var s = 0L
    var j = 0
    while (j < m) {
      val cent = cb(j)(codes.getInt(j))
      var d = 0
      while (d < sub) {
        s += math.floor(q.getFloat(j * sub + d).toDouble * cent(d) * 1e15).toLong
        d += 1
      }
      j += 1
    }
    s
  }

  /** Per-SUBSPACE reconstruction error of a coded vector against the
    * exact one, as m fixed-point longs: err_j = Σ_d floor((ne_i −
    * cent_i)² · 1e12) over the subspace's slots — the quantization-loss
    * profile that says WHICH subspace is burning recall (the PQ-tuning
    * read: a hot subspace wants more codebook bits or a rotation).
    * Same exactness argument as [[adcDot]]: per-slot IEEE double
    * subtract/square and floor are bit-deterministic, long addition is
    * order-free, so any partitioning and the DuckDB oracle agree.
    * Envelope: slots are unit-scale ⇒ (ne−cent)² ≤ 4, term ≤ 4e12,
    * per-subspace ≤ sub·4e12 ≈ 3.2e13 — int64 by 5 orders; corpus
    * sums lift to DECIMAL(38,0) downstream.
    */
  def reconErrVec(ne: ArrayData, codes: ArrayData,
      cb: Array[Array[Array[Double]]]): ArrayData = {
    val m = cb.length
    val sub = cb(0)(0).length
    val out = new Array[Long](m)
    var j = 0
    while (j < m) {
      val cent = cb(j)(codes.getInt(j))
      var s = 0L
      var d = 0
      while (d < sub) {
        val t = ne.getFloat(j * sub + d).toDouble - cent(d)
        s += math.floor(t * t * 1e12).toLong
        d += 1
      }
      out(j) = s
      j += 1
    }
    new GenericArrayData(out)
  }

  /** `pq_encode(ne)`: the m codes of each normalized vector under `cb`. */
  def encode(ne: Column, cb: Array[Array[Array[Double]]]): Column =
    GraftSqlBridge.column(PqEncode(GraftSqlBridge.expression(ne), cb))

  /** `pq_adc(q, codes)`: the fixed-point ADC score ([[adcDot]]) under `cb`. */
  def adc(q: Column, codes: Column, cb: Array[Array[Array[Double]]]): Column =
    GraftSqlBridge.column(PqAdcScore(GraftSqlBridge.expression(q),
      GraftSqlBridge.expression(codes), cb))

  /** `pq_recon_err(ne, codes)`: the per-subspace errors ([[reconErrVec]])
    * under `cb`.
    */
  def reconErr(ne: Column, codes: Column, cb: Array[Array[Array[Double]]]): Column =
    GraftSqlBridge.column(PqReconError(GraftSqlBridge.expression(ne),
      GraftSqlBridge.expression(codes), cb))
}

/** array<float> (normalized) → array<int> PQ codes. Codegen emits one
  * compiled static-helper call (no interpreted expression tree).
  */
case class PqEncode(child: Expression, cb: Array[Array[Array[Double]]])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${other.sql}")
  }
  override def prettyName: String = "pq_encode"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    AnnPq.encodeVec(input.asInstanceOf[ArrayData], cb)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqcb", cb, "double[][][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.AnnPq.encodeVec($c, $cbRef);")
  }
  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** (array<float> query, array<int> codes) → fixed-point approximate dot
  * (ADC), as LONG (÷1e15 for the double value).
  */
case class PqAdcScore(left: Expression, right: Expression,
    cb: Array[Array[Array[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, array<int>), got ${l.sql}, ${r.sql}")
    }
  override def prettyName: String = "pq_adc"
  override def dataType: DataType = LongType
  override def nullSafeEval(q: Any, codes: Any): Any =
    AnnPq.adcDot(q.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData], cb)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqcb", cb, "double[][][]")
    nullSafeCodeGen(ctx, ev, (q, c) =>
      s"${ev.value} = graft.functions.AnnPq.adcDot($q, $c, $cbRef);")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcScore =
    copy(left = newLeft, right = newRight)
}

/** (array<float> exact vector, array<int> codes) → per-subspace
  * fixed-point reconstruction errors (length m), see [[AnnPq.reconErrVec]].
  */
case class PqReconError(left: Expression, right: Expression,
    cb: Array[Array[Array[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, array<int>), got ${l.sql}, ${r.sql}")
    }
  override def prettyName: String = "pq_recon_err"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(ne: Any, codes: Any): Any =
    AnnPq.reconErrVec(ne.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData], cb)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqcb", cb, "double[][][]")
    nullSafeCodeGen(ctx, ev, (ne, c) =>
      s"${ev.value} = graft.functions.AnnPq.reconErrVec($ne, $c, $cbRef);")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqReconError =
    copy(left = newLeft, right = newRight)
}
