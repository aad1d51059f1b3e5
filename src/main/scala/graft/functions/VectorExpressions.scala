package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Codegen'd vector kernels for `array<double>` embedding columns.
  *
  * Spark's higher-order functions (`zip_with`/`aggregate`) are evaluated
  * interpreted — each element trip goes through a lambda-variable
  * indirection and boxes — which makes an O(n·d) similarity scan
  * lambda-bound rather than CPU-bound. These expressions call one tight
  * loop over the underlying `ArrayData` ([[VectorKernel]]) from inside
  * whole-stage codegen, so a 64-dim dot product is 64 fused multiply-adds
  * on unboxed doubles.
  *
  * Null semantics deliberately mirror the HOF formulation they replace
  * (`aggregate(zip_with(a, b, _ * _), 0.0, _ + _)`): any null element or a
  * length mismatch yields NULL (zip_with pads the shorter side with nulls
  * and null propagates through the fold). Summation order is the same
  * sequential left-to-right fold, so results are bit-identical to both the
  * HOF version and DuckDB's `list_sum(list_transform(...))` oracle.
  */
object VectorKernel {
  def dot(a: ArrayData, b: ArrayData): java.lang.Double = fold(a, b, diff = false)
  def l2sq(a: ArrayData, b: ArrayData): java.lang.Double = fold(a, b, diff = true)

  // the boxed return carries the NULL of a length mismatch or null element
  private def fold(a: ArrayData, b: ArrayData,
      diff: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      acc += (if (diff) (x - y) * (x - y) else x * y)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

/** A [[VectorKernel]] fold over two `array<double>` columns. */
abstract class VectorFoldExpression(kernel: String)
    extends RuntimeReplaceable with BinaryLike[Expression] {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, array<double>), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  override lazy val replacement: Expression = StaticInvoke(
    VectorKernel.getClass, DoubleType, kernel, Seq(left, right))
}

/** `vec_dot(a, b)` = Σ aᵢ·bᵢ — sequential IEEE-double fold. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorFoldExpression("dot") {
  override def prettyName: String = "vec_dot"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** `vec_l2sq(a, b)` = Σ (aᵢ−bᵢ)² — squared L2, monotone in L2 so argmin /
  * top-k ordering never needs the sqrt.
  */
case class L2Sq(left: Expression, right: Expression)
    extends VectorFoldExpression("l2sq") {
  override def prettyName: String = "vec_l2sq"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Sq =
    copy(left = newLeft, right = newRight)
}
