package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word k-shingle kernel shared by eval and generated code.
  *
  * Exactly mirrors the declarative formulation it replaces —
  * `array_distinct(transform(sequence(0, size(w)-k), i =>
  * concat_ws(" ", w[i..i+k-1])))` over `w = split(text, " ")` with an
  * `[text]` fallback for short docs — but in one pass over the string:
  * split keeps trailing empties (Spark `split` limit=-1 semantics),
  * shingles join with single spaces, first-occurrence order is preserved
  * (LinkedHashSet), and the short-document fallback returns the raw text.
  *
  * The `toString` round-trip is parity-safe even for invalid UTF-8:
  * Spark's own `split` builtin delegates to `UTF8String.toString` +
  * `java.util.regex` + `fromString`, applying the identical U+FFFD
  * substitution (verified against the 4.1.2 bytecode).
  */
object ShingleKernel {
  def compute(text: UTF8String, k: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    if (words.length < k) {
      return new GenericArrayData(Array[Any](text))
    }
    val distinct = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + k <= words.length) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      distinct.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](distinct.size)
    val it = distinct.iterator()
    var idx = 0
    while (it.hasNext) {
      out(idx) = UTF8String.fromString(it.next())
      idx += 1
    }
    new GenericArrayData(out)
  }
}

/** `word_shingles(text, k)` — distinct word k-shingles of a document as
  * `array<string>`, the similarity set for n-gram Jaccard / MinHash dedup.
  *
  * A native expression because the higher-order-function chain it replaces
  * is evaluated interpreted (lambda variables, per-element boxing, an
  * O(n²-ish) `array_distinct`) and dominated the dedup operators' runtime;
  * here shingling is one generated call into [[ShingleKernel]].
  */
case class WordShingles(child: Expression, k: Int)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  require(k >= 1, s"word_shingles: k must be >= 1, got $k")

  override def prettyName: String = "word_shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_shingles requires a string column, got ${other.simpleString}")
  }

  override lazy val replacement: Expression = StaticInvoke(
    ShingleKernel.getClass, ArrayType(StringType, containsNull = false),
    "compute", Seq(child, Literal(k)), returnNullable = false)

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}
