package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, LongType}

/** Average-hash (aHash) kernel over a byte payload: resample the stream
  * into 64 contiguous blocks (block b covers bytes [n·b/64, n·(b+1)/64)),
  * set bit b iff the block's mean byte exceeds the payload's global mean.
  * The perceptual-hash family's simplest member — near-identical payloads
  * differ in a handful of bits, so Hamming distance is a similarity.
  *
  * Exactness: the mean comparison is division-free —
  * `blockSum·n > totalSum·blockLen` — so the bit vector is pure integer
  * arithmetic and reproducible in ANSI SQL. Empty blocks (n < 64) and
  * empty payloads hash their bits to 0 on both sides (0 > 0 is false).
  * Overflow bound: blockSum·n ≤ 255·n², exact in int64 for payloads up
  * to ~190 MB — far past any encoded image this table carries.
  */
object AHashKernel {
  def compute(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    var total = 0L
    var i = 0
    while (i < n) { total += (bytes(i) & 0xff); i += 1 }
    var h = 0L
    var b = 0
    while (b < 64) {
      val start = ((n.toLong * b) / 64).toInt
      val end = ((n.toLong * (b + 1)) / 64).toInt
      var bs = 0L
      var j = start
      while (j < end) { bs += (bytes(j) & 0xff); j += 1 }
      if (bs * n > total * (end - start)) h |= 1L << b
      b += 1
    }
    h
  }
}

/** `ahash64(blob)` — 64-bit average-hash of a binary payload. One
  * generated kernel call per row, codegen'd like [[SimHash64]].
  */
case class AHash64(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  override def prettyName: String = "ahash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ahash64 requires a binary column, got ${other.simpleString}")
  }

  override lazy val replacement: Expression = StaticInvoke(
    AHashKernel.getClass, LongType, "compute", Seq(child),
    returnNullable = false)

  override protected def withNewChildInternal(newChild: Expression): AHash64 =
    copy(child = newChild)
}
