package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable, XXH64}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Positional k-gram hash ladder kernel — one call per document row,
  * bit-identical to the declarative chain it replaces in the span-removal
  * family:
  *
  *   - level 0: `xxhash64(concat_ws(' ', slice(arr, i+1, base)))` for
  *     every window start i ∈ [0, |arr| − base] — the same XXH64
  *     (seed 42) over the same space-joined gram bytes;
  *   - each of `doublings` rounds: `h'(i) = xxhash64(h(i), h(i+len))`,
  *     i.e. `XXH64.hashLong(h(i+len), XXH64.hashLong(h(i), seed))` —
  *     exactly the fold order of the two-argument `xxhash64()` SQL
  *     expression — doubling the represented window length per round.
  *
  * Why a kernel and not the `transform(sequence(...), ...)` ladder: a
  * higher-order function is evaluated INTERPRETED, and any formulation
  * that indexes the previous level from inside a lambda
  * (`element_at(prev, i)`) invites the optimizer to inline `prev` into
  * the lambda body, re-evaluating the whole previous level once per
  * element — O(T²·2^doublings) per document (measured: a task pinned at
  * 100% CPU for minutes at sf0.01). The kernel is one generated call per
  * row, O(T·(base + doublings)) with two flat long[] buffers.
  */
object HashLadderKernel {
  private val Space = UTF8String.fromString(" ")

  def compute(arr: ArrayData, base: Int, doublings: Int,
      seed: Long): ArrayData = {
    val n = arr.numElements()
    val l0 = n - base + 1
    if (l0 <= 0) return new GenericArrayData(Array.emptyLongArray)
    var cur = new Array[Long](l0)
    val parts = new Array[UTF8String](base)
    var i = 0
    while (i < l0) {
      var j = 0
      while (j < base) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      cur(i) = XXH64.hashUTF8String(
        UTF8String.concatWs(Space, parts: _*), seed)
      i += 1
    }
    var len = base
    var r = 0
    while (r < doublings) {
      val m = cur.length - len
      if (m <= 0) return new GenericArrayData(Array.emptyLongArray)
      val next = new Array[Long](m)
      var s = 0
      while (s < m) {
        next(s) = XXH64.hashLong(cur(s + len), XXH64.hashLong(cur(s), seed))
        s += 1
      }
      cur = next
      len <<= 1
      r += 1
    }
    new GenericArrayData(cur)
  }
}

/** `hash_ladder(arr)` over a token array: the final level's window
  * hashes as `array<long>` (index = window start, 0-based — `posexplode`
  * restores the (start, h) pairs). `base`/`doublings` are plan-time
  * constants, like [[graft.functions.TopKPairs]]'s k.
  */
case class HashLadder(child: Expression, base: Int, doublings: Int)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  require(base >= 1 && doublings >= 0,
    s"need base >= 1 and doublings >= 0, got $base/$doublings")

  override def prettyName: String = "hash_ladder"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hash_ladder requires array<string>, got ${other.simpleString}")
  }

  override lazy val replacement: Expression = StaticInvoke(
    HashLadderKernel.getClass, ArrayType(LongType, containsNull = false),
    "compute", Seq(child, Literal(base), Literal(doublings), Literal(42L)),
    returnNullable = false)

  override protected def withNewChildInternal(
      newChild: Expression): HashLadder = copy(child = newChild)
}
