package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Constant-matrix dot-product kernels for the ANN paths.
  *
  * The higher-order-function formulation (`transform(sequence(...), j →
  * aggregate(zip_with(...)))`) is correct but its lambda expressions are
  * CodegenFallback in Spark — every vector pays interpreted eval plus a
  * boxed closure call per element, and the enclosing Project drops out
  * of whole-stage codegen. These two expressions keep the exact same
  * arithmetic (same f32→f64 widening, same index-order accumulation —
  * pinned ≡ the higher-order twin in spec) as tight primitive loops with
  * `doGenCode`, the matrix riding along as a codegen reference object:
  *
  *   - [[DotMatrix]]: embedding → array of one dot per matrix row
  *     (the LSH hyperplane projection / IVF probe-ranking kernel);
  *   - [[ArgMaxDot]]: embedding → index of the best matrix row, first
  *     index on exact ties (the IVF cell assignment, fused — no
  *     intermediate array, no second scan for the argmax).
  *
  * Both expect `array<float>` input (the embeddings schema).
  * Malformed-input contract (LOUD nulls, never silently-wrong values):
  * null input → null; an array with a NULL ELEMENT → null; an array
  * whose LENGTH differs from the matrix dimension → null. (The
  * higher-order twin null-pads per plane via zip_with; these kernels
  * null the whole result instead — a short/holey embedding must never
  * get a quietly-wrong IVF cell or LSH bucket. The spec's equivalence
  * pin ("≡ higher-order twin") covers well-formed inputs; the divergence
  * on malformed ones is pinned beside it.) The matrix itself must
  * be non-empty and rectangular — enforced at construction.
  */
case class DotMatrix(child: Expression, matrix: Array[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true // null input, null element, or dim mismatch

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    DotMatrix.checkFloatArray(child, prettyName)

  override protected def nullSafeEval(input: Any): Any =
    DotMatrix.dots(input.asInstanceOf[ArrayData], matrix)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("dotMatrix", matrix, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.DotMatrix$$.MODULE$$.dots($c, $m);
         |${ev.isNull} = (${ev.value} == null);""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): DotMatrix =
    copy(child = newChild)
}

case class ArgMaxDot(child: Expression, matrix: Array[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true // null input, null element, or dim mismatch

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    DotMatrix.checkFloatArray(child, prettyName)

  override protected def nullSafeEval(input: Any): Any = {
    val r = DotMatrix.argMaxDot(input.asInstanceOf[ArrayData], matrix)
    if (r == Int.MinValue) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("dotMatrix", matrix, "double[][]")
    // Int.MinValue is the in-band "null" sentinel from the primitive
    // kernel — no boxing on the hot path, one compare per row
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.DotMatrix$$.MODULE$$.argMaxDot($c, $m);
         |if (${ev.value} == Integer.MIN_VALUE) { ${ev.isNull} = true; }""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): ArgMaxDot =
    copy(child = newChild)
}

object DotMatrix {

  /** Non-empty + rectangular: an empty matrix has no argmax (the old
    * behavior returned bogus index 0), and a ragged one makes the
    * dim-mismatch null contract ambiguous. Checked once at plan
    * construction — the matrix is a plan literal. Shared by the f64
    * [[DotMatrix]] and f32 [[CosineToMatrixF32]] kernels. */
  private[functions] def checkedMatrix[T: scala.reflect.ClassTag](
      name: String, matrix: Seq[Seq[T]]): Array[Array[T]] = {
    require(matrix.nonEmpty, s"$name: matrix must be non-empty")
    require(matrix.forall(_.length == matrix.head.length),
      s"$name: matrix must be rectangular, got row lengths ${matrix.map(_.length).distinct}")
    matrix.map(_.toArray).toArray
  }

  def apply(c: Column, matrix: Seq[Seq[Double]]): Column =
    ColumnBridge.column(DotMatrix(ColumnBridge.expression(c), checkedMatrix("DotMatrix", matrix)))

  def argMax(c: Column, matrix: Seq[Seq[Double]]): Column =
    ColumnBridge.column(ArgMaxDot(ColumnBridge.expression(c), checkedMatrix("DotMatrix", matrix)))

  private[functions] def checkFloatArray(child: Expression, name: String)
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$name expects array<float>, got ${other.catalogString}")
    }

  /** True iff `arr` is well-formed for a dim-`d` matrix: exactly `d`
    * elements, none null. One cheap pass (bit-test per element) before
    * the multiply loops, so the hot loops stay null-check-free. Shared
    * by every `array<float>` kernel here and in [[CosineF32]]. */
  private[functions] def wellFormed(arr: ArrayData, d: Int): Boolean = {
    if (arr.numElements() != d) return false
    var i = 0
    while (i < d) { if (arr.isNullAt(i)) return false; i += 1 }
    true
  }

  /** Shared eval body — interpreted eval AND generated code (static
    * call, stays inside whole-stage codegen). Accumulation order and
    * f32→f64 widening match the higher-order twin exactly on
    * well-formed input; a null element or a length != matrix dimension
    * returns null (see the class scaladoc for the contract). */
  def dots(arr: ArrayData, m: Array[Array[Double]]): ArrayData = {
    val n = m.length
    val dim = m(0).length
    if (!wellFormed(arr, dim)) return null
    val out = new Array[Double](n)
    var j = 0
    while (j < n) {
      val row = m(j)
      var s = 0.0
      var i = 0
      while (i < dim) { s += arr.getFloat(i).toDouble * row(i); i += 1 }
      out(j) = s
      j += 1
    }
    ArrayData.toArrayData(out)
  }

  /** First index of the maximum dot (strict `>` — exact ties keep the
    * earliest row, the same verdict as array_position(array_max)).
    * Returns Int.MinValue as the null sentinel on malformed input
    * (null element / length mismatch) — wrappers map it to SQL null. */
  def argMaxDot(arr: ArrayData, m: Array[Array[Double]]): Int = {
    val n = m.length
    val dim = m(0).length
    if (!wellFormed(arr, dim)) return Int.MinValue
    var best = Double.NegativeInfinity
    var bestJ = 0
    var j = 0
    while (j < n) {
      val row = m(j)
      var s = 0.0
      var i = 0
      while (i < dim) { s += arr.getFloat(i).toDouble * row(i); i += 1 }
      if (s > best) { best = s; bestJ = j }
      j += 1
    }
    bestJ
  }
}
