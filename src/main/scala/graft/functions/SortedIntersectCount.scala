package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Two-pointer merge count over two SORTED long arrays — the verify
  * kernel of the set-similarity family. `array_intersect` is the wrong
  * tool when only |A∩B| is needed: it hash-builds one side and
  * MATERIALIZES the intersection array per row, all garbage the next
  * expression sizes and throws away. The merge is allocation-free,
  * branch-cheap, and O(|A|+|B|).
  *
  * Preconditions (the callers own them): both arrays sorted ascending
  * with no null elements; duplicate elements count min-multiset style
  * (callers pass DISTINCT sets, where that distinction vanishes).
  */
object SortedIntersectKernel {
  def count(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1L; i += 1; j += 1 }
    }
    c
  }
}

/** `sorted_intersect_count(a, b)` — |A∩B| of two sorted long arrays.
  * One generated kernel call per row, codegen'd like [[AHash64]].
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression] {
  override def prettyName: String = "sorted_intersect_count"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_count requires two array<bigint> columns, " +
          s"got ${l.simpleString} and ${r.simpleString}")
    }

  override lazy val replacement: Expression = StaticInvoke(
    SortedIntersectKernel.getClass, LongType, "count", Seq(left, right),
    returnNullable = false)

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}
