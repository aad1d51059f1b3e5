package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-position n-gram context kernel for the Stupid-Backoff n-gram LM
  * ([[graft.operators.NgramLm]]; Brants et al. 2007, "Large Language
  * Models in Machine Translation").
  *
  * For `w = split(text, " ")` (limit −1 — trailing empties kept, the
  * same tokenizer contract as [[ShingleKernel]]), position `i`
  * (1-based) yields the struct the backoff chain scores token `w[i]`
  * with:
  *
  *   - `g1` = `w[i]`                       (unigram — never null)
  *   - `p2` = `w[i-1]`                     (bigram prefix; null at i=1)
  *   - `g2` = `w[i-1] w[i]`                (bigram;        null at i=1)
  *   - `p3` = `w[i-2] w[i-1]`              (trigram prefix; null at i<3)
  *   - `g3` = `w[i-2] w[i-1] w[i]`         (trigram;        null at i<3)
  *
  * Why a native expression rather than `posexplode(split(...))` +
  * window `lag`s: the lag formulation shuffles the whole corpus by
  * doc_id just to see two previous tokens, and the
  * `transform(sequence(...))` formulation re-slices the token array
  * per element in interpreted HOF lambdas. Here one generated call
  * walks the string once and the explode that follows is the only
  * corpus-shaped operation — no shuffle, no per-element lambda trips,
  * and (unlike carrying the token array through `posexplode`) no
  * O(len²) duplication of the array across its own positions.
  *
  * The `toString` round-trip is parity-safe even for invalid UTF-8 —
  * same U+FFFD substitution as Spark's own `split` builtin (see
  * [[ShingleKernel]]).
  */
object LmGramKernel {
  def compute(text: UTF8String): ArrayData = {
    val words = text.toString.split(" ", -1)
    val out = new Array[Any](words.length)
    var i = 0
    while (i < words.length) {
      val g1 = UTF8String.fromString(words(i))
      var p2: UTF8String = null
      var g2: UTF8String = null
      var p3: UTF8String = null
      var g3: UTF8String = null
      if (i >= 1) {
        p2 = UTF8String.fromString(words(i - 1))
        g2 = UTF8String.fromString(words(i - 1) + " " + words(i))
      }
      if (i >= 2) {
        p3 = UTF8String.fromString(words(i - 2) + " " + words(i - 1))
        g3 = UTF8String.fromString(
          words(i - 2) + " " + words(i - 1) + " " + words(i))
      }
      out(i) = new GenericInternalRow(Array[Any](g1, p2, g2, p3, g3))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `lm_grams(text)` — one struct per token position carrying every
  * n-gram the order-3 Stupid-Backoff chain needs; see [[LmGramKernel]].
  */
case class LmGrams(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  override def prettyName: String = "lm_grams"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lm_grams requires a string column, got ${other.simpleString}")
  }

  override lazy val replacement: Expression = StaticInvoke(
    LmGramKernel.getClass,
    ArrayType(
      StructType(Seq(
        StructField("g1", StringType, nullable = false),
        StructField("p2", StringType, nullable = true),
        StructField("g2", StringType, nullable = true),
        StructField("p3", StringType, nullable = true),
        StructField("g3", StringType, nullable = true))),
      containsNull = false),
    "compute", Seq(child), returnNullable = false)

  override protected def withNewChildInternal(newChild: Expression): LmGrams =
    copy(child = newChild)
}
