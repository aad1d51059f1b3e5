package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.Literal
import graft.functions.{AHash64, DeflateSize, DotProduct, HashedSet, L2Sq, LmGrams, MinhashBands, OrderedSum, SampleCdfPos, SignBands, SimHash64, SortedIntersectCount, TriProducts, WordNgrams, WordShingleHashes, WordShingles}
import scala.reflect.{ClassTag, classTag}

/** Session plugin registering graft's native Catalyst expressions.
  *
  * Installed via the public extension point —
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` — so the
  * functions are available to `call_function`/SQL in any session (incl.
  * spark-submit on a real cluster) without touching Spark internals.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(name: String, arity: Int)(
      build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(build.getClass.getName, name),
      (args: Seq[Expression]) => {
        require(args.length == arity, s"$name expects $arity arguments")
        build(args)
      })

  /** The value of a plan-time constant argument, e.g. a shingle width. */
  private def lit[T: ClassTag](name: String, param: String,
      e: Expression): T = e match {
    case Literal(v: T, _) => v
    case other => throw new IllegalArgumentException(
      s"$name: $param must be a literal ${classTag[T]}, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(fn("vec_dot", 2)(a => DotProduct(a(0), a(1))))
    ext.injectFunction(fn("vec_l2sq", 2)(a => L2Sq(a(0), a(1))))
    ext.injectFunction(fn("simhash64", 1)(a => SimHash64(a(0))))
    ext.injectFunction(fn("ahash64", 1)(a => AHash64(a(0))))
    ext.injectFunction(fn("deflate_size", 1)(a => DeflateSize(a(0))))
    ext.injectFunction(fn("emb_sign_bands", 1)(a => SignBands(a(0))))
    ext.injectFunction(fn("vec_tri_prods", 1)(a => TriProducts(a(0))))
    ext.injectFunction(fn("lm_grams", 1)(a => LmGrams(a(0))))
    ext.injectFunction(
      fn("sorted_intersect_count", 2)(a => SortedIntersectCount(a(0), a(1))))
    ext.injectFunction(fn("sample_cdf_pos", 2)(a => SampleCdfPos(a(0), a(1))))
    ext.injectFunction(fn("word_shingles", 2)(a =>
      WordShingles(a(0), lit[Int]("word_shingles", "k", a(1)))))
    ext.injectFunction(fn("word_shingle_hashes", 3)(a =>
      WordShingleHashes(a(0), lit[Int]("word_shingle_hashes", "k", a(1)),
        lit[Boolean]("word_shingle_hashes", "sorted", a(2)))))
    ext.injectFunction(fn("hashed_set", 1)(a => HashedSet(a(0))))
    ext.injectFunction(fn("minhash_bands", 3)(a =>
      MinhashBands(a(0), lit[Int]("minhash_bands", "bands", a(1)),
        lit[Int]("minhash_bands", "rows", a(2)))))
    ext.injectFunction(fn("ordered_sum", 1)(a => OrderedSum(a(0))))
    ext.injectFunction(fn("word_ngrams", 2)(a =>
      WordNgrams(a(0), lit[Int]("word_ngrams", "n", a(1)))))
  }
}
