package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Upper-triangle self-product kernel shared by interpreted eval and
  * codegen: for a d-vector, the d(d+1)/2 products vᵢ·vⱼ (i ≤ j) in
  * row-major triangle order — position k walks (0,0)…(0,d−1), (1,1)…
  * (1,d−1), …, (d−1,d−1), so (i, j) is a pure function of (k, d) and
  * never needs to ride the data.
  */
object TriProdKernel {
  def compute(v: ArrayData): ArrayData = {
    val d = v.numElements()
    val out = new Array[Double](d * (d + 1) / 2)
    var k = 0
    var i = 0
    while (i < d) {
      val xi = v.getDouble(i)
      var j = i
      while (j < d) { out(k) = xi * v.getDouble(j); k += 1; j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `vec_tri_prods(v)` → `array<double>` of the upper-triangle self
  * products in [[TriProdKernel]] order.
  *
  * Replaces the nested `transform(sequence(...))` + `flatten` + struct
  * formulation in the PCA moment pass: higher-order functions evaluate
  * interpreted (per-element lambda indirection and boxed structs), which
  * made second-moment generation lambda-bound; this is d(d+1)/2 unboxed
  * multiplies in a tight loop inside whole-stage codegen. Each product
  * is the same IEEE double multiply the HOF computed, so downstream
  * exact-decimal moment sums are bit-identical.
  *
  * Assumes dense vectors (no null elements), the embedding-table
  * contract (same as `sign_bands`).
  */
case class TriProducts(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  override def prettyName: String = "vec_tri_prods"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_tri_prods requires array<double>, got ${other.simpleString}")
  }

  override lazy val replacement: Expression = StaticInvoke(
    TriProdKernel.getClass, ArrayType(DoubleType, containsNull = false),
    "compute", Seq(child), returnNullable = false)

  override protected def withNewChildInternal(
      newChild: Expression): TriProducts = copy(child = newChild)
}
