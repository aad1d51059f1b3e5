package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable, XXH64}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Hashed word k-shingle kernel — [[ShingleKernel]] fused with the
  * `xxhash64` every dedup/decontamination consumer applies to each
  * shingle, so the shingle STRINGS never materialize into an array or
  * cross a Generate: one generated call per document emits the 8-byte
  * hashes directly.
  *
  * Bit-identical to the declarative chains it replaces:
  *
  *   - `sorted = false`: `transform(word_shingles(text, k), s =>
  *     xxhash64(s))` — one XXH64(seed 42) per distinct shingle in
  *     first-occurrence order (multiplicity preserved on the ~1e-9
  *     hash-collision corner, exactly like the transform);
  *   - `sorted = true`: `array_sort(array_distinct(transform(
  *     word_shingles(text, k), s => xxhash64(s))))` — distinct hash
  *     VALUES ascending (a collision dedups here, exactly like
  *     `array_distinct` on the hashes).
  *
  * The short-document fallback hashes the ORIGINAL `text` UTF8String
  * (not a toString round-trip), matching `xxhash64` over the raw value
  * `word_shingles` returns for docs with fewer than k words — the
  * invalid-UTF-8 corner where a round-trip would substitute U+FFFD and
  * change the hash. Shingle strings go through
  * `UTF8String.fromString`, the same encoder the string kernel (and
  * Spark's own `split`) uses, so each hash covers the identical bytes
  * `xxhash64(s)` hashed.
  */
object ShingleHashKernel {
  def compute(text: UTF8String, k: Int, sorted: Boolean): ArrayData = {
    val words = text.toString.split(" ", -1)
    if (words.length < k) {
      return new GenericArrayData(
        Array(XXH64.hashUTF8String(text, 42L)))
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
    val hs = new Array[Long](distinct.size)
    val it = distinct.iterator()
    var idx = 0
    while (it.hasNext) {
      hs(idx) = XXH64.hashUTF8String(UTF8String.fromString(it.next()), 42L)
      idx += 1
    }
    if (!sorted) return new GenericArrayData(hs)
    java.util.Arrays.sort(hs)
    // dedup equal hash values in place (array_distinct semantics on the
    // already-sorted longs)
    var w = 0
    var r = 0
    while (r < hs.length) {
      if (w == 0 || hs(r) != hs(w - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    val out = if (w == hs.length) hs else java.util.Arrays.copyOf(hs, w)
    new GenericArrayData(out)
  }
}

/** The same fused hash-set projection over an ALREADY-shingled
  * `array<string>` column — bit-identical to
  * `array_sort(array_distinct(transform(sh, s => xxhash64(s))))`, the
  * interpreted 4-operator chain every kernel-verify site ran per row. A
  * NULL element hashes to the seed (42), exactly what `xxhash64(null)`
  * inside the transform produced.
  */
object HashedSetKernel {
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      hs(i) = if (arr.isNullAt(i)) 42L
        else XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var w = 0
    var r = 0
    while (r < n) {
      if (w == 0 || hs(r) != hs(w - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    val out = if (w == n) hs else java.util.Arrays.copyOf(hs, w)
    new GenericArrayData(out)
  }
}

/** `hashed_set(arr)` — sorted distinct xxhash64(seed 42) values of an
  * `array<string>` as `array<long>` ([[HashedSetKernel]]).
  */
case class HashedSet(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  override def prettyName: String = "hashed_set"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hashed_set requires array<string>, got ${other.simpleString}")
  }

  override lazy val replacement: Expression = StaticInvoke(
    HashedSetKernel.getClass, ArrayType(LongType, containsNull = false),
    "compute", Seq(child), returnNullable = false)

  override protected def withNewChildInternal(
      newChild: Expression): HashedSet = copy(child = newChild)
}

/** `word_shingle_hashes(text, k, sorted)` — the xxhash64(seed 42) of each
  * distinct word k-shingle as `array<long>`; `sorted = true` additionally
  * dedups and ascending-sorts the hash values (the ppjoin set shape).
  */
case class WordShingleHashes(child: Expression, k: Int, sorted: Boolean)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  require(k >= 1, s"word_shingle_hashes: k must be >= 1, got $k")

  override def prettyName: String = "word_shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_shingle_hashes requires a string column, got ${other.simpleString}")
  }

  override lazy val replacement: Expression = StaticInvoke(
    ShingleHashKernel.getClass, ArrayType(LongType, containsNull = false),
    "compute", Seq(child, Literal(k), Literal(sorted)),
    returnNullable = false)

  override protected def withNewChildInternal(
      newChild: Expression): WordShingleHashes = copy(child = newChild)
}
