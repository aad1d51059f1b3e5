package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable, XXH64}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}

/** MinHash-LSH band keys of one shingle set, in one pass over the row.
  *
  * Bit-identical to the declarative chain it replaced: explode the
  * shingles, hash each twice, `groupBy(doc_id)` 63 `min` aggregates, then
  * `xxhash64` each band's signature slots. Per row:
  *
  *   - each shingle `s` is string-hashed exactly twice,
  *     `h1 = xxhash64(s)` (seed 42) and `h2 = xxhash64(1, s)` (seed
  *     `hashInt(1, 42)`); a NULL element hashes to the seed, exactly like
  *     `xxhash64(null)`;
  *   - signature slot `j` (Kirsch–Mitzenmacher double hashing) is the
  *     minimum over the shingles of `h1 + j·h2`, in wrapping 64-bit
  *     arithmetic, for `j < bands · rows`;
  *   - band `b`'s key is `xxhash64(sig_{rows·b}, …, sig_{rows·b+rows-1})`:
  *     `XXH64.hashLong` chained over the band's slots from seed 42.
  *
  * An empty set has no signature and yields no keys (the explode dropped
  * it); a NULL array yields NULL.
  */
object MinhashBandKernel {
  private val Seed = 42L
  private val Seed2 = XXH64.hashInt(1, Seed)

  def compute(sh: ArrayData, bands: Int, rows: Int): ArrayData = {
    val n = sh.numElements()
    if (n == 0) return new GenericArrayData(new Array[Long](0))
    val sig = Array.fill(bands * rows)(Long.MaxValue)
    var i = 0
    while (i < n) {
      var h = Seed
      var h2 = Seed2
      if (!sh.isNullAt(i)) {
        val s = sh.getUTF8String(i)
        h = XXH64.hashUTF8String(s, Seed)
        h2 = XXH64.hashUTF8String(s, Seed2)
      }
      var j = 0
      while (j < sig.length) {
        if (h < sig(j)) sig(j) = h
        h += h2
        j += 1
      }
      i += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var k = Seed
      var r = 0
      while (r < rows) { k = XXH64.hashLong(sig(rows * b + r), k); r += 1 }
      out(b) = k
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** `minhash_bands(sh, bands, rows)` — the `bands` MinHash-LSH bucket keys
  * of an `array<string>` shingle set as `array<long>`
  * ([[MinhashBandKernel]]); `posexplode` turns them into the
  * (band, h) rows the LSH joins exchange.
  */
case class MinhashBands(child: Expression, bands: Int, rows: Int)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  require(bands >= 1 && rows >= 1,
    s"minhash_bands: bands and rows must be >= 1, got $bands and $rows")

  override def prettyName: String = "minhash_bands"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_bands requires array<string>, got ${other.simpleString}")
  }

  override lazy val replacement: Expression = StaticInvoke(
    MinhashBandKernel.getClass, ArrayType(LongType, containsNull = false),
    "compute", Seq(child, Literal(bands), Literal(rows)),
    returnNullable = false)

  override protected def withNewChildInternal(
      newChild: Expression): MinhashBands = copy(child = newChild)
}
