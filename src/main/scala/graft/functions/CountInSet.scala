package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Stop-list hit counter — bit-identical to
  * `size(filter(toks, t => t.isInCollection(words)))`, the interpreted
  * ArrayFilter + linear `In` scan every language/stopword signal ran
  * PER TOKEN (the text-quality operators call it up to five times per
  * row, once per language list). One generated call per row, hash-set
  * membership per token; a NULL element makes the `In` predicate NULL,
  * which `filter` drops — the kernel skips it the same way.
  */
object CountInSetKernel {
  def compute(arr: ArrayData, set: java.util.HashSet[UTF8String]): Int = {
    val n = arr.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }
}

/** `count_in_set(toks)` over a compile-time word list — see
  * [[CountInSetKernel]]. The word set rides into the kernel call as an
  * object literal, so both evaluation paths share the one instance.
  */
case class CountInSet(child: Expression, words: Seq[String])
    extends RuntimeReplaceable with UnaryLike[Expression] {
  require(words.nonEmpty, "count_in_set: word list must be non-empty")

  override def prettyName: String = "count_in_set"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"count_in_set requires array<string>, got ${other.simpleString}")
  }

  override lazy val replacement: Expression = {
    val set = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => set.add(UTF8String.fromString(w)))
    StaticInvoke(CountInSetKernel.getClass, IntegerType, "compute",
      Seq(child, Literal.fromObject(set)), returnNullable = false)
  }

  override protected def withNewChildInternal(newChild: Expression): CountInSet =
    copy(child = newChild)
}
