package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, BinaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Catalyst kernels for product quantization (Jégou et al., TPAMI
  * 2011): vectors split into `m` subvectors, each quantized to one of
  * `k ≤ 256` per-subspace centroids, so a D-float embedding becomes m
  * bytes — the memory/IO format that makes billion-vector ANN feasible.
  * Scoring is asymmetric (ADC): the QUERY stays exact, each query
  * precomputes one m×k inner-product table against the codebook, and a
  * candidate's approximate dot product is m table lookups — no
  * per-candidate float math at all.
  *
  * The codebook travels INSIDE the expressions (flat
  * `Array[Double]`, laid out [sub][centroid][dim]) — the compiled
  * broadcast pattern this codebase uses for the NB scorer and the
  * span cutter: stateless projections, streaming-composable.
  * All kernels are one-loop-per-row evals with analysis-time input
  * validation, wired into whole-stage codegen via the semi-codegen
  * traits ([[UnaryKernelCodegen]]/[[BinaryKernelCodegen]] — children
  * stay generated, the loop is one virtual call); a vector whose
  * length does not match m×subDim yields null (ragged rows must not
  * kill a 100-TB job — nulls are auditable downstream). */
object PqKernels {

  import org.apache.spark.sql.graftkit.Bridge.{column, expression}

  def pqCodes(vec: Column, codebook: Array[Double], m: Int, k: Int,
              subDim: Int, asInts: Boolean = false): Column =
    column(PqCodesExpr(expression(vec), codebook, m, k, subDim, asInts))

  /** Residual (IVFADC) encoding: codes of `vec − anchor` against a
    * codebook trained on residuals, fused in one loop — the residual
    * array is never materialized. See [[PqResidualCodesExpr]]. */
  def pqResidualCodes(vec: Column, anchor: Column, codebook: Array[Double],
                      m: Int, k: Int, subDim: Int,
                      asInts: Boolean = false): Column =
    column(PqResidualCodesExpr(expression(vec), expression(anchor),
      codebook, m, k, subDim, asInts))

  def pqTable(qvec: Column, codebook: Array[Double], m: Int, k: Int,
              subDim: Int): Column =
    column(PqTableExpr(expression(qvec), codebook, m, k, subDim))

  def pqAdcScore(codes: Column, table: Column, k: Int): Column =
    column(PqAdcScoreExpr(expression(codes), expression(table), k))

  private[functions] def checkGeometry(m: Int, k: Int, subDim: Int,
                                       codebook: Array[Double]): Unit = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(k >= 1 && k <= 256, s"k must be in [1, 256] (byte codes), got $k")
    require(subDim >= 1, s"subDim must be >= 1, got $subDim")
    require(codebook.length == m * k * subDim,
      s"codebook length ${codebook.length} != m*k*subDim = ${m * k * subDim}")
  }
}

/** Encode a vector to its m sub-codes: per subspace, the L2-nearest
  * of the k centroids (ties break to the LOWEST code — deterministic
  * on every engine). Output is BinaryType (m bytes — the storage
  * format) or array<int> with `asInts` (the training/debug view). */
case class PqCodesExpr(child: Expression, codebook: Array[Double],
                       m: Int, k: Int, subDim: Int, asInts: Boolean)
    extends UnaryExpression with UnaryKernelCodegen {
  PqKernels.checkGeometry(m, k, subDim, codebook)

  override def dataType: DataType =
    if (asInts) ArrayType(IntegerType, containsNull = false) else BinaryType
  override def checkInputDataTypes() =
    Kernels.requireNumericArray("pq_codes", child.dataType)

  @transient private lazy val get = Kernels.doubleGetter(child.dataType, "pq_codes")

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != m * subDim) return null
    val codes = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      var best = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < k) {
        val base = (mi * k + j) * subDim
        var d2 = 0.0
        var d = 0
        while (d < subDim) {
          val diff = get(v, mi * subDim + d) - codebook(base + d)
          d2 += diff * diff
          d += 1
        }
        if (d2 < bestD) { bestD = d2; best = j } // strict < keeps lowest on tie
        j += 1
      }
      codes(mi) = best
      mi += 1
    }
    if (asInts) new GenericArrayData(codes)
    else {
      val out = new Array[Byte](m)
      var i = 0
      while (i < m) { out(i) = codes(i).toByte; i += 1 }
      out
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Residual-mode (IVFADC, Jégou 2011 §IV) encoder: per subspace, the
  * L2-nearest codebook entry to `(vec − anchor)` — the anchor being the
  * row's assigned IVF centroid, so the codebook only has to describe
  * the (much smaller) within-list displacement, not the whole vector.
  * Same tie-break / ragged-null contract as [[PqCodesExpr]]; null when
  * EITHER input is null or has the wrong length (a row whose list
  * assignment is null cannot be residual-coded — auditable, never
  * dropped silently). The subtraction is fused into the distance loop:
  * no residual array is ever allocated per row. */
case class PqResidualCodesExpr(left: Expression, right: Expression,
                               codebook: Array[Double],
                               m: Int, k: Int, subDim: Int, asInts: Boolean)
    extends BinaryExpression with BinaryKernelCodegen {
  PqKernels.checkGeometry(m, k, subDim, codebook)

  override def dataType: DataType =
    if (asInts) ArrayType(IntegerType, containsNull = false) else BinaryType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val l = Kernels.requireNumericArray("pq_residual_codes", left.dataType)
    if (l.isFailure) l
    else Kernels.requireNumericArray("pq_residual_codes", right.dataType)
  }

  @transient private lazy val getV =
    Kernels.doubleGetter(left.dataType, "pq_residual_codes")
  @transient private lazy val getA =
    Kernels.doubleGetter(right.dataType, "pq_residual_codes")

  override def nullSafeEval(vecAny: Any, anchorAny: Any): Any = {
    val v = vecAny.asInstanceOf[ArrayData]
    val a = anchorAny.asInstanceOf[ArrayData]
    if (v.numElements() != m * subDim || a.numElements() != m * subDim)
      return null
    val codes = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      var best = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < k) {
        val base = (mi * k + j) * subDim
        var d2 = 0.0
        var d = 0
        while (d < subDim) {
          val i = mi * subDim + d
          val diff = (getV(v, i) - getA(a, i)) - codebook(base + d)
          d2 += diff * diff
          d += 1
        }
        if (d2 < bestD) { bestD = d2; best = j } // strict < keeps lowest on tie
        j += 1
      }
      codes(mi) = best
      mi += 1
    }
    if (asInts) new GenericArrayData(codes)
    else {
      val out = new Array[Byte](m)
      var i = 0
      while (i < m) { out(i) = codes(i).toByte; i += 1 }
      out
    }
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Per-query ADC table: out(mi*k + j) = ⟨query subvector mi, centroid
  * j of subspace mi⟩. Computed once per QUERY row (queries are few);
  * corpus rows then score by lookup only. */
case class PqTableExpr(child: Expression, codebook: Array[Double],
                       m: Int, k: Int, subDim: Int)
    extends UnaryExpression with UnaryKernelCodegen {
  PqKernels.checkGeometry(m, k, subDim, codebook)

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes() =
    Kernels.requireNumericArray("pq_table", child.dataType)

  @transient private lazy val get = Kernels.doubleGetter(child.dataType, "pq_table")

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != m * subDim) return null
    val out = new Array[Double](m * k)
    var mi = 0
    while (mi < m) {
      var j = 0
      while (j < k) {
        val base = (mi * k + j) * subDim
        var ip = 0.0
        var d = 0
        while (d < subDim) {
          ip += get(v, mi * subDim + d) * codebook(base + d)
          d += 1
        }
        out(mi * k + j) = ip
        j += 1
      }
      mi += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** ADC lookup sum: approximate ⟨query, candidate⟩ = Σ_mi
  * table(mi*k + code(mi)). m additions per (candidate, query) pair —
  * the whole point of PQ. Null when the table length does not match
  * codes.length × k (a table built with different geometry). */
case class PqAdcScoreExpr(left: Expression, right: Expression, k: Int)
    extends BinaryExpression with BinaryKernelCodegen {
  require(k >= 1 && k <= 256, s"k must be in [1, 256], got $k")

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pq_adc_score expects (binary codes, array<double> table), got (${l.sql}, ${r.sql})")
    }

  override def nullSafeEval(codesAny: Any, tableAny: Any): Any = {
    val codes = codesAny.asInstanceOf[Array[Byte]]
    val table = tableAny.asInstanceOf[ArrayData]
    if (table.numElements() != codes.length * k) return null
    var s = 0.0
    var mi = 0
    while (mi < codes.length) {
      s += table.getDouble(mi * k + (codes(mi) & 0xff))
      mi += 1
    }
    s
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
