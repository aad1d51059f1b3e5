package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Left-to-right IEEE double sum of an `array<double>` — bit-identical
  * to `aggregate(arr, 0.0D, (acc, x) -> acc + x)`, which Spark evaluates
  * INTERPRETED (lambda dispatch + boxing per element). One generated
  * call per row for the ADC fold the PQ family ranks on; a NULL element
  * poisons the sum to NULL exactly like `acc + NULL` did.
  */
object OrderedSumKernel {
  // the boxed return mirrors the fold: null iff the array has a null
  def compute(arr: ArrayData): java.lang.Double = {
    val n = arr.numElements()
    var acc = 0.0d
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      acc += arr.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

/** `ordered_sum(arr)` — see [[OrderedSumKernel]]. */
case class OrderedSum(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  override def prettyName: String = "ordered_sum"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ordered_sum requires array<double>, got ${other.simpleString}")
  }

  // the fold yields NULL on a NULL element even when the array is
  // non-null: the boxed kernel return carries it (returnNullable)
  override lazy val replacement: Expression = StaticInvoke(
    OrderedSumKernel.getClass, DoubleType, "compute", Seq(child))

  override protected def withNewChildInternal(
      newChild: Expression): OrderedSum = copy(child = newChild)
}
