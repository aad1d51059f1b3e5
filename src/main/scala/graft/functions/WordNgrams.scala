package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Multiset word n-gram kernel — ALL adjacent n-grams of a document in
  * position order, duplicates kept: the tf side of TF-IDF and the
  * top-bigram share both count multiplicity, so [[ShingleKernel]]'s
  * distinct set is the wrong shape for them and they ran the interpreted
  * chain
  *
  *   `transform(sequence(1, size(toks) - n + 1), i ->
  *      concat(element_at(toks, i), ' ', ..., element_at(toks, i+n-1)))`
  *
  * instead — one lambda dispatch plus n `element_at` boxed trips PER
  * GRAM. Here the whole gram stream is one generated call.
  *
  * Bit-identical to the chain it replaces: `split(text, " ", -1)`
  * tokenization (trailing empties kept, same U+FFFD substitution on
  * invalid UTF-8 as Spark's `split` — both go through
  * `UTF8String.toString`), single-space joins, and an EMPTY array for
  * documents with fewer than n words (the `when(size >= n, ...)
  * .otherwise(array())` guard every call site wrapped around the
  * transform; `explode` then emits no rows either way).
  */
object NgramKernel {
  def compute(text: UTF8String, n: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    if (words.length < n) {
      return new GenericArrayData(Array.empty[Any])
    }
    val out = new Array[Any](words.length - n + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + n <= words.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `word_ngrams(text, n)` — see [[NgramKernel]]. */
case class WordNgrams(child: Expression, n: Int)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  require(n >= 1, s"word_ngrams: n must be >= 1, got $n")

  override def prettyName: String = "word_ngrams"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_ngrams requires a string column, got ${other.simpleString}")
  }

  override lazy val replacement: Expression = StaticInvoke(
    NgramKernel.getClass, ArrayType(StringType, containsNull = false),
    "compute", Seq(child, Literal(n)), returnNullable = false)

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}
