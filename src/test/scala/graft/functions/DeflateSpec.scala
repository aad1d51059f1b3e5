package graft.functions

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.KernelPaths.bothPaths
import graft.TestSpark

/** Invariants for the deflate_size kernel and the compression-ratio
  * signal built on it. There is no SQL oracle for deflate, so the
  * quality gate rests on these properties plus the committed golden.
  */
class DeflateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def size(s: String): Int =
    DeflateKernel.deflatedSize(UTF8String.fromString(s))

  test("repetitive text compresses far below diverse text of equal length") {
    val rep = "spam " * 200                      // 1000 chars, one token
    val diverse = (0 until 200).map(i => f"w$i%03d").mkString(" ") // ~1000
    assert(size(rep) < diverse.length / 5)
    assert(size(diverse) > size(rep) * 3,
      s"diverse ${size(diverse)} should far exceed repetitive ${size(rep)}")
  }

  test("kernel is deterministic and empty input deflates to a few bytes") {
    val s = "the quick brown fox jumps over the lazy dog " * 10
    assert(size(s) == size(s))
    assert(size("") >= 0 && size("") <= 8)
  }

  test("SQL surface: deflate_size registered via GraftExtensions") {
    import spark.implicits._
    val out = bothPaths(Seq("aaaa aaaa aaaa aaaa", "zq xv jk wp mn bt")
      .toDF("text")
      .selectExpr("deflate_size(text) AS dz", "length(text) AS n"))
    // per-row kernel parity with the direct call
    assert(out(0).getInt(0) == size("aaaa aaaa aaaa aaaa"))
    assert(out(1).getInt(0) == size("zq xv jk wp mn bt"))
  }

  test("compression ratio query orders by doc_id and flags repetition low") {
    val df = graft.operators.TextAnalysis
      .compressionRatio(spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(0)).toSeq == rows.map(_.getLong(0)).toSeq.sorted)
    // ratios are positive; long word-built docs always compress (short
    // docs can deflate to exactly their own length — observed at 47
    // chars — so the strict bound applies past the header-noise floor)
    assert(rows.forall(_.getDouble(3) > 0.0))
    assert(rows.filter(_.getInt(1) >= 200).forall(_.getDouble(3) < 1.0))
  }
}
