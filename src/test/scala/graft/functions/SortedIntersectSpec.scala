package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.KernelPaths.bothPaths
import graft.TestSpark

/** The sorted_intersect_count kernel: merge-count semantics against a
  * brute-force set intersection, plus the SQL registration and its
  * equality with `size(array_intersect(...))` on distinct sorted arrays
  * (the ppjoin verify's contract).
  */
class SortedIntersectSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def k(a: Seq[Long], b: Seq[Long]): Long =
    SortedIntersectKernel.count(
      ArrayData.toArrayData(a.toArray), ArrayData.toArrayData(b.toArray))

  test("kernel equals set intersection on sorted distinct arrays") {
    assert(k(Seq(1L, 3L, 5L), Seq(2L, 3L, 5L, 9L)) == 2L)
    assert(k(Seq.empty, Seq(1L)) == 0L)
    assert(k(Seq(1L), Seq.empty) == 0L)
    assert(k(Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)) == 3L)
    assert(k(Seq(-5L, 0L, 7L), Seq(-9L, -5L, 8L)) == 1L)
    // property sweep vs scala Set intersection
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val a = Seq.fill(rnd.nextInt(40))(rnd.nextInt(50).toLong)
        .distinct.sorted
      val b = Seq.fill(rnd.nextInt(40))(rnd.nextInt(50).toLong)
        .distinct.sorted
      assert(k(a, b) == a.toSet.intersect(b.toSet).size.toLong,
        s"a=$a b=$b")
    }
  }

  test("SQL registration matches size(array_intersect()) end to end") {
    import spark.implicits._
    val df = Seq(
      (Seq(1L, 4L, 9L, 16L), Seq(2L, 4L, 16L, 32L)),
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(7L), Seq(7L))).toDF("a", "b")
    val got = bothPaths(df.selectExpr("sorted_intersect_count(a, b) AS c"))
      .map(_.getLong(0)).toSeq
    val ref = df.select(size(array_intersect(col("a"), col("b")))
      .cast("long")).collect().map(_.getLong(0)).toSeq
    assert(got == ref && got == Seq(2L, 0L, 1L))
  }
}
