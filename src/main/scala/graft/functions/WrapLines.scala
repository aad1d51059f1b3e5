package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Fixed-width line re-wrap kernel — bit-identical to the declarative
  * chain it replaces in [[graft.operators.Dedup.wrapLines]]:
  *
  *   `concat_ws("\n", transform(sequence(0, (size(w) - 1) div width),
  *      i -> concat_ws(" ", slice(w, i * width + 1, width))))`
  *
  * over `w = split(text, " ", -1)` — i.e. the document's words grouped
  * into ⌈n/width⌉ lines of `width` single-space-joined words, lines
  * joined with '\n'. The interpreted chain re-boxed every word through
  * two lambda trips and built ⌈n/width⌉ intermediate arrays per
  * document; here the wrapped string is assembled in one pass. The
  * `toString` round-trip applies the same U+FFFD substitution as
  * Spark's own `split` (the [[ShingleKernel]] parity argument).
  */
object WrapLinesKernel {
  def compute(text: UTF8String, width: Int): UTF8String = {
    val words = text.toString.split(" ", -1)
    val sb = new java.lang.StringBuilder(text.numBytes() + 8)
    var i = 0
    while (i < words.length) {
      if (i > 0) sb.append(if (i % width == 0) '\n' else ' ')
      sb.append(words(i))
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

/** `wrap_lines(text, width)` — see [[WrapLinesKernel]]. */
case class WrapLines(child: Expression, width: Int)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  require(width >= 1, s"wrap_lines: width must be >= 1, got $width")

  override def prettyName: String = "wrap_lines"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"wrap_lines requires a string column, got ${other.simpleString}")
  }

  override lazy val replacement: Expression = StaticInvoke(
    WrapLinesKernel.getClass, StringType, "compute", Seq(child, Literal(width)),
    returnNullable = false)

  override protected def withNewChildInternal(newChild: Expression): WrapLines =
    copy(child = newChild)
}
