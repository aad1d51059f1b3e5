package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable, XXH64}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SimHash kernel, bit-identical to the declarative formulation it
  * replaces (`aggregate` of per-token ±1 votes over the 64 bits of
  * `xxhash64(token)`, then sign-packed): tokens split on single spaces
  * (trailing empties kept, Spark `split` semantics), token hash is
  * Spark's XXH64 with the same seed `xxhash64()` uses (42), bit j of the
  * result is set iff more tokens had bit j set than clear.
  */
object SimHashKernel {
  def compute(text: UTF8String, seed: Long): Long = {
    val words = text.toString.split(" ", -1)
    val votes = new Array[Int](64)
    var i = 0
    while (i < words.length) {
      val h = XXH64.hashUTF8String(UTF8String.fromString(words(i)), seed)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) out |= 1L << j
      j += 1
    }
    out
  }
}

/** `simhash64(text)` — 64-bit SimHash of a document over word unigrams.
  * One generated kernel call per row; the higher-order-function chain it
  * replaces evaluated 64 interpreted lambda steps per token.
  */
case class SimHash64(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires a string column, got ${other.simpleString}")
  }

  override lazy val replacement: Expression = StaticInvoke(
    SimHashKernel.getClass, LongType, "compute", Seq(child, Literal(42L)),
    returnNullable = false)

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}
