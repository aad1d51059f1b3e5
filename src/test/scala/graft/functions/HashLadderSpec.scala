package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.KernelPaths.bothPaths
import graft.TestSpark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** The positional hash-ladder kernel vs the declarative chain it
  * replaced: level 0 must equal `xxhash64(concat_ws(' ', slice(...)))`
  * per window, each doubling must equal the two-argument `xxhash64(h,
  * hr)` fold over the (start, start+len) pair — bit-identical, because
  * the span-removal oracle twins key on exactly these hashes.
  */
class HashLadderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ladder(base: Int, doublings: Int) = {
    import spark.implicits._
    val docs = Seq(
      1L -> "a b c d e f g h i j k l",
      2L -> "a b c d",                      // exactly one base window
      3L -> "x y",                          // shorter than base
      4L -> "a a a a a a a a",              // all-equal tokens
      5L -> ("tok " * 63).trim              // longer doc
    ).toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("arr"))
    val kcol = ColumnBridge.column(HashLadder(
      ColumnBridge.expression(col("arr")), base, doublings))
    val kernel = docs
      .filter(size(col("arr")) >= (base << doublings))
      .select(col("doc_id"), posexplode(kcol).as(Seq("start", "h")))
    // reference: declarative level-0 explode + join-doubling rounds
    var ref = docs.filter(size(col("arr")) >= base)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("arr")) - base),
        i => struct(i.as("start"),
          xxhash64(concat_ws(" ", slice(col("arr"), i + 1, lit(base))))
            .as("h")))).as("g"))
      .select(col("doc_id"), col("g.start"), col("g.h"))
    var len = base
    for (_ <- 0 until doublings) {
      val right = ref.select(col("doc_id"),
        (col("start") - len).as("start"), col("h").as("hr"))
      ref = ref.join(right, Seq("doc_id", "start"))
        .select(col("doc_id"), col("start"),
          xxhash64(col("h"), col("hr")).as("h"))
      len *= 2
    }
    (bothPaths(kernel.orderBy("doc_id", "start")).toSeq,
      ref.orderBy("doc_id", "start").collect().toSeq)
  }

  test("doublings = 0: kernel rows equal the xxhash64 k-gram explode") {
    val (k, r) = ladder(3, 0)
    assert(k.nonEmpty && k == r)
  }

  test("doubling rounds equal the xxhash64(h, hr) self-join fold") {
    for (d <- 1 to 3) {
      val (k, r) = ladder(2, d)
      assert(k.nonEmpty && k == r, s"doublings=$d")
    }
    val (k4, r4) = ladder(4, 2) // the removeDupSpansMultiLength defaults
    assert(k4.nonEmpty && k4 == r4)
  }

  test("short docs yield no windows; null arrays yield no rows") {
    import spark.implicits._
    val docs = Seq((1L, Some("a b")), (2L, None))
      .toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("arr"))
    val kcol = ColumnBridge.column(HashLadder(
      ColumnBridge.expression(col("arr")), 4, 2))
    assert(bothPaths(docs.select(col("doc_id"),
      posexplode(kcol).as(Seq("start", "h")))).isEmpty)
  }
}
