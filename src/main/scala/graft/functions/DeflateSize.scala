package graft.functions

import java.util.zip.Deflater
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** DEFLATE kernel for the compression-ratio quality signal: the byte
  * length of the zlib-deflated document. Highly repetitive text (spam,
  * generated boilerplate, keyword stuffing) compresses far below the
  * corpus norm; near-random strings compress above it — the
  * "compression ratio" filter of web-scale curation recipes, which
  * catches LONG-RANGE repetition that fixed-k n-gram signals
  * ([[graft.operators.TextAnalysis.repetitionScore]]) cannot see.
  *
  * Determinism: level and strategy are pinned, the dictionary is empty,
  * and the input is the raw UTF-8 bytes, so the output length is a pure
  * function of the document for a given zlib build (the JDK bundles
  * zlib; identical across the cluster because every executor runs the
  * same JDK image). No SQL engine exposes deflate, so queries over this
  * kernel are golden-pinned rather than oracle-checked.
  */
object DeflateKernel {
  // one native zlib stream + scratch buffer per executor THREAD,
  // reset() between rows: constructing/ending a Deflater is a JNI
  // init/teardown with native malloc/free, which on short documents
  // costs more than the compression itself — per-row allocation would
  // quietly break the "scan-speed narrow map" contract (same pooling
  // Spark's own compression codecs use). reset() restores the exact
  // initial stream state, so output lengths are unchanged.
  private val deflaters = new ThreadLocal[Deflater] {
    override def initialValue(): Deflater = new Deflater(6, /* nowrap = */ true)
  }
  private val buffers = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](8192)
  }

  /** Deflated byte length of the UTF-8 bytes of `text`, level 6. */
  def deflatedSize(text: UTF8String): Int = {
    val raw = text.getBytes
    val d = deflaters.get()
    d.reset()
    d.setInput(raw)
    d.finish()
    val buf = buffers.get()
    var total = 0
    while (!d.finished()) total += d.deflate(buf)
    total
  }
}

/** `deflate_size(text)` — deflated byte length of a string column. One
  * kernel call per row inside whole-stage codegen (the generated code
  * calls the static kernel, same pattern as [[SimHash64]]).
  */
case class DeflateSize(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  override def prettyName: String = "deflate_size"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"deflate_size requires a string column, got ${other.simpleString}")
  }

  override lazy val replacement: Expression = StaticInvoke(
    DeflateKernel.getClass, IntegerType, "deflatedSize", Seq(child),
    returnNullable = false)

  override protected def withNewChildInternal(newChild: Expression): DeflateSize =
    copy(child = newChild)
}
