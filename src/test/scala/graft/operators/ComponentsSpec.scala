package graft.operators

import graft.{KernelPaths, TestSpark}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** [[Dedup.clustersFromPairs]] has two paths, the driver union-find for
  * broadcast-sized pair lists and the pointer-doubling loop for the rest.
  * Every case here runs both and requires the same rows and schema.
  */
class ComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def pairs(t: DataType, ps: (Any, Any)*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(ps.map { case (a, b) => Row(a, b) }: _*),
      StructType(Seq(StructField("da", t), StructField("db", t))))

  private def labels(rows: Array[Row]): Seq[(Any, Any)] =
    rows.toSeq.map(r => (r.get(0), r.get(1)))

  test("fixed shapes: chain, islands, star, clique, duplicate and " +
    "reversed pairs, self-loops") {
    val chain = KernelPaths.componentPaths(
      pairs(LongType, (4L, 5L), (3L, 4L), (1L, 2L), (2L, 3L)))
    assert(labels(chain) == (1L to 5L).map(i => (i, 1L)))
    val islands = KernelPaths.componentPaths(
      pairs(LongType, (11L, 10L), (1L, 2L), (6L, 5L)))
    assert(labels(islands) == Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L),
      (10L, 10L), (11L, 10L)))
    val star = KernelPaths.componentPaths(
      pairs(LongType, (9L, 3L), (9L, 12L), (7L, 9L), (9L, 20L)))
    assert(labels(star) == Seq(3L, 7L, 9L, 12L, 20L).map(i => (i, 3L)))
    val members = Seq(30L, 4L, 17L, 8L, 25L)
    val clique = KernelPaths.componentPaths(pairs(LongType,
      (for (a <- members; b <- members if a < b) yield (a, b)): _*))
    assert(labels(clique) == members.sorted.map(i => (i, 4L)))
    val dupRev = KernelPaths.componentPaths(pairs(LongType,
      (1L, 2L), (2L, 1L), (1L, 2L), (4L, 3L), (3L, 4L), (4L, 3L)))
    assert(labels(dupRev) == Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)))
    val selfLoops = KernelPaths.componentPaths(
      pairs(LongType, (7L, 7L), (2L, 2L), (2L, 1L)))
    assert(labels(selfLoops) == Seq((1L, 1L), (2L, 1L), (7L, 7L)))
  }

  test("NULL endpoints: the non-NULL endpoint is a node, a NULL node " +
    "takes the smallest label among its ids, (NULL, NULL) adds nothing") {
    val got = KernelPaths.componentPaths(pairs(LongType,
      (8L, 9L), (null, 5L), (5L, 6L), (1L, null), (null, null)))
    assert(labels(got) == Seq((null, 1L), (1L, 1L), (5L, 5L), (6L, 5L),
      (8L, 8L), (9L, 8L)))
    val onlyNullPair = KernelPaths.componentPaths(
      pairs(LongType, (null, null), (3L, 2L)))
    assert(labels(onlyNullPair) == Seq((2L, 2L), (3L, 2L)))
    val lone = KernelPaths.componentPaths(pairs(LongType, (4L, null)))
    assert(labels(lone) == Seq((null, 4L), (4L, 4L)))
    // the NULL node's first label (+5) cancels 6's drop to 1 (-5): a
    // convergence sum that counted it stopped the loop after one round
    // with 5 still labeled 5
    val cancel = KernelPaths.componentPaths(
      pairs(LongType, (5L, 6L), (1L, 6L), (null, 5L)))
    assert(labels(cancel) == Seq((null, 1L), (1L, 1L), (5L, 1L), (6L, 1L)))
  }

  test("int-typed ids keep their type on both paths") {
    val got = KernelPaths.componentPaths(
      pairs(IntegerType, (3, 2), (2, 1), (10, 12), (-5, 12)))
    assert(labels(got) == Seq((-5, -5), (1, 1), (2, 1), (3, 1), (10, -5),
      (12, -5)))
    val mixed = spark.createDataFrame(
      java.util.Arrays.asList(Row(1, 2L), Row(3, 2L)),
      StructType(Seq(StructField("da", IntegerType, nullable = false),
        StructField("db", LongType, nullable = false))))
    assert(labels(KernelPaths.componentPaths(mixed)) ==
      Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("300 seeded random graphs: the driver path equals the loop") {
    // graphs run 30 to a call, each over its own pool of ids, so one
    // call checks the disjoint union of 30 graphs; every third call
    // also draws NULL endpoints (one shared NULL node per call)
    for (call <- 0 until 10) {
      val rnd = new scala.util.Random(call)
      val ints = call % 2 == 1
      val ps = (0 until 30).flatMap { g =>
        val nNodes = 2 + rnd.nextInt(25)
        val pool =
          if (ints) Array.fill[Any](nNodes)(rnd.nextInt())
          else Array.fill[Any](nNodes)(
            if (rnd.nextBoolean()) rnd.nextLong()
            else 1000L * g + rnd.nextInt(1000))
        def end(): Any =
          if (call % 3 == 0 && rnd.nextInt(10) == 0) null
          else pool(rnd.nextInt(nNodes))
        (0 until 1 + rnd.nextInt(2 * nNodes)).map(_ => (end(), end()))
      }
      KernelPaths.componentPaths(pairs(if (ints) IntegerType else LongType,
        ps: _*))
    }
  }
}
