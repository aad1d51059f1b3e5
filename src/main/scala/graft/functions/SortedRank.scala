package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{And, Expression, If, IsNotNull, IsNull, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}

/** Binary-search rank kernel over a SORTED `array<double>`.
  *
  * `sample_cdf_pos(vs, v)` = #{x ∈ vs : x ≤ v} — the empirical-CDF
  * position of `v` within a sorted sample, the per-row step of quantile
  * normalization ([[graft.operators.Aggregates.quantileNormalizeOn]]).
  *
  * Why a native expression: the higher-order formulation it replaces —
  * `size(filter(vs, x -> x ≤ v))` — is evaluated interpreted (Spark HOFs
  * don't participate in whole-stage codegen), costing k lambda trips per
  * corpus row. This kernel is an O(log k) branch-per-probe binary search
  * generated inline inside codegen, so the per-row CDF map runs at scan
  * speed regardless of sample size.
  *
  * Semantics are pinned EQUAL to the HOF it replaces (property-tested in
  * `SortedRankSpec`), so swapping it in cannot move any oracle:
  *   - `vs` NULL → NULL (`size(NULL)` is NULL under Spark 3+ defaults);
  *   - `v` NULL → 0 (the predicate is NULL for every element, `filter`
  *     drops them all, `size([])` = 0);
  *   - NaN in `vs` or as `v` → not counted (`x ≤ v` is false), expressed
  *     below as the IEEE-negated `!(x ≤ v)` probe;
  *   - NULL elements → not counted (NULL predicate is dropped by
  *     `filter`); Spark's `array_sort` places them last, where the
  *     `isNullAt → greater` branch keeps the search correct.
  *
  * PRECONDITION: `vs` sorted ascending, nulls last — exactly what
  * `array_sort` produces. Unsorted input gives an unspecified count
  * (binary search invariant), same contract as SQL's `array_position`
  * family on sorted data.
  */
object SortedRankKernel {
  def countLe(arr: ArrayData, v: Double): Int = {
    var lo = 0
    var hi = arr.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      // "greater than v" branch: NULL and NaN sort/count as greater
      if (arr.isNullAt(mid) || !(arr.getDouble(mid) <= v)) hi = mid
      else lo = mid + 1
    }
    lo
  }
}

/** `sample_cdf_pos(sorted_vs, v)` — see [[SortedRankKernel]]. */
case class SampleCdfPos(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression] {
  override def prettyName: String = "sample_cdf_pos"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, double), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  // NULL v with a non-NULL array → 0; a NULL array reaches the kernel
  // call, which propagates it to NULL
  override lazy val replacement: Expression = If(
    And(IsNotNull(left), IsNull(right)), Literal(0),
    StaticInvoke(SortedRankKernel.getClass, IntegerType, "countLe",
      Seq(left, right), returnNullable = false))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SampleCdfPos =
    copy(left = newLeft, right = newRight)
}

/** Column-level surface (the [[VectorFunctions]] bridge pattern). */
object SortedRank {
  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

  /** #{x ∈ sortedVs : x ≤ v} via codegen'd binary search. */
  def cdfPos(sortedVs: Column, v: Column): Column =
    column(SampleCdfPos(expression(sortedVs), expression(v)))
}
