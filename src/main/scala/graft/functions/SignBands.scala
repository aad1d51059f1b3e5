package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}

/** Graft's fixed sign-LSH codebook: deterministic pseudo-random
  * hyperplanes (seed 42) so every run, plan, and cluster node produces
  * identical buckets. 4 bands × 16 sign bits: wide bands keep clustered
  * corpora from bucketing whole clusters together (see
  * [[graft.operators.Dedup.embeddingNearDupOn]]).
  */
object Hyperplanes {
  val RowsPerBand = 16
  val Bands = 4
  val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(Bands * RowsPerBand, 64)(rnd.nextDouble() - 0.5)
  }
}

/** Banded sign-LSH kernel: project a vector onto `bands · rowsPerBand`
  * fixed hyperplanes, take sign bits, pack each band's bits into one int
  * bucket hash.
  */
object SignBandKernel {
  def compute(v: ArrayData, planes: Array[Array[Double]], bands: Int,
      rowsPerBand: Int): ArrayData = {
    val d = v.numElements()
    // Fail loudly on a dimension the codebook can't cover: silently
    // projecting onto the first plane.length dims would degrade LSH
    // recall with no visible error.
    if (d > planes(0).length)
      throw new IllegalArgumentException(
        s"sign_bands: vector dim $d exceeds hyperplane codebook dim " +
          s"${planes(0).length}; regenerate Hyperplanes for this embedding size")
    val out = new Array[Int](bands)
    var p = 0
    var band = 0
    while (band < bands) {
      var h = 0
      var r = 0
      while (r < rowsPerBand) {
        val plane = planes(p)
        var s = 0.0
        var i = 0
        while (i < d) { s += v.getDouble(i) * plane(i); i += 1 }
        if (s > 0) h |= 1 << r
        r += 1
        p += 1
      }
      out(band) = h
      band += 1
    }
    new GenericArrayData(out)
  }
}

/** `sign_bands(v)` over the fixed [[Hyperplanes]] codebook → `array<int>`
  * of one bucket hash per band.
  *
  * One native expression instead of `bands · rowsPerBand` separate
  * `when(vec_dot(v, plane_i) > 0, …)` columns: the unrolled formulation
  * generated a huge whole-stage-codegen method that Janino recompiled for
  * every join branch referencing it — compile time dwarfed execution on
  * the LSH self-join. The expression carries NO plane data — its kernel
  * call takes the process-wide [[Hyperplanes]] constant (deterministic
  * seed) as an object literal, which compares by reference, so plan
  * canonicalization/equality/explain never touch 4096 doubles.
  *
  * Assumes dense vectors (no null elements), the embedding-table contract.
  */
case class SignBands(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  override def prettyName: String = "sign_bands"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sign_bands requires array<double>, got ${other.simpleString}")
  }

  override lazy val replacement: Expression = StaticInvoke(
    SignBandKernel.getClass, ArrayType(IntegerType, containsNull = false),
    "compute", Seq(child, Literal.fromObject(Hyperplanes.planes),
      Literal(Hyperplanes.Bands), Literal(Hyperplanes.RowsPerBand)),
    returnNullable = false)

  override protected def withNewChildInternal(newChild: Expression): SignBands =
    copy(child = newChild)
}
