package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.KernelPaths.bothPaths
import graft.TestSpark

/** Stupid-Backoff n-gram LM: kernel parity with the declarative
  * formulation, hand-checked backoff arithmetic at every level,
  * append-equals-rebuild on the stored model, served-equals-in-query,
  * streamed-equals-batch, and the one-shuffle training plan shape.
  */
class NgramLmSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val dir = "/root/testdata/sf0.001"

  private def docsDf(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  // --- kernel -----------------------------------------------------

  test("LmGramKernel matches a plain-Scala reference on edge shapes " +
      "(empty string, 1/2/3 tokens, repeated tokens, trailing space)") {
    val texts = Seq("", "a", "a b", "a b c", "a a a a", "x y z w",
      "a b ", " a", "über straße né")
    val df = docsDf(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }: _*)
    def key(t: (Long, String, String, String, String, String)) =
      (t._1, t._2, String.valueOf(t._3), String.valueOf(t._4),
        String.valueOf(t._5), String.valueOf(t._6))
    val got = bothPaths(NgramLm.positions(df))
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getString(5)))
      .sortBy(key)
    val expected = texts.zipWithIndex.flatMap { case (t, id) =>
      val w = t.split(" ", -1)
      w.indices.map { i =>
        (id.toLong, w(i),
          if (i >= 1) w(i - 1) else null,
          if (i >= 1) s"${w(i - 1)} ${w(i)}" else null,
          if (i >= 2) s"${w(i - 2)} ${w(i - 1)}" else null,
          if (i >= 2) s"${w(i - 2)} ${w(i - 1)} ${w(i)}" else null)
      }
    }.sortBy(key)
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (g, e) => assert(g == e) }
  }

  test("countsOn matches brute-force counting on a tiny corpus") {
    val df = docsDf(1L -> "a b c a b c", 2L -> "a b", 3L -> "c")
    val got = NgramLm.countsOn(df).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    val grams = Seq("a b c a b c", "a b", "c").flatMap { t =>
      val w = t.split(" ", -1)
      w.indices.flatMap { i =>
        Seq(Some(1 -> w(i)),
          if (i >= 1) Some(2 -> s"${w(i - 1)} ${w(i)}") else None,
          if (i >= 2) Some(3 -> s"${w(i - 2)} ${w(i - 1)} ${w(i)}") else None
        ).flatten
      }
    }
    val expected = grams.groupBy(identity).map { case ((o, g), xs) =>
      (o, g, xs.size.toLong)
    }.toSet
    assert(got == expected)
  }

  // --- backoff arithmetic ------------------------------------------

  test("scoreOn resolves every backoff level with the exact micro " +
      "arithmetic: trigram hit, bigram fallback, unigram backstop, OOV") {
    // model corpus: one doc "a b c a b c"
    //   unigrams a:2 b:2 c:2 (N=6); bigrams "a b":2 "b c":2 "c a":1;
    //   trigrams "a b c":2 "b c a":1 "c a b":1
    val model = NgramLm.countsOn(docsDf(10L -> "a b c a b c"))
    val scored = NgramLm.scoreOn(
      docsDf(1L -> "a b c", 2L -> "z"), model)
      .collect().map(r => r.getLong(0) -> r).toMap

    val d1 = scored(1L)
    // pos1 "a":  level 1 → (160000·2) div 6 = 53333
    // pos2 "a b": level 2 → (400000·2) div 2 = 400000
    // pos3 "a b c": level 3 → (1000000·2) div 2 = 1000000
    assert(d1.getAs[Long]("n_tokens") == 3L)
    assert(d1.getAs[Long]("sum_micro") == 53333L + 400000L + 1000000L)
    assert(d1.getAs[Long]("avg_micro") == (53333L + 400000L + 1000000L) / 3)
    assert(d1.getAs[Long]("n_l3") == 1L && d1.getAs[Long]("n_l2") == 1L
      && d1.getAs[Long]("n_l1") == 1L && d1.getAs[Long]("n_oov") == 0L)

    val d2 = scored(2L)
    assert(d2.getAs[Long]("n_tokens") == 1L)
    assert(d2.getAs[Long]("sum_micro") == 0L)
    assert(d2.getAs[Long]("n_oov") == 1L)
  }

  test("a matched gram's prefix is always in the model (no null " +
      "division): bigram fallback inside an unseen trigram context") {
    // "x a b" against the model above: pos3 has g3="x a b" (unseen) but
    // g2="a b" (seen, prefix "a" seen) → level 2, never a null cp2
    val model = NgramLm.countsOn(docsDf(10L -> "a b c a b c"))
    val r = NgramLm.scoreOn(docsDf(1L -> "x a b"), model).head()
    // pos1 "x": OOV; pos2 "x a": bigram unseen, unigram a → lvl1;
    // pos3 "a b": lvl2
    assert(r.getAs[Long]("n_oov") == 1L)
    assert(r.getAs[Long]("n_l1") == 1L)
    assert(r.getAs[Long]("n_l2") == 1L)
    assert(r.getAs[Long]("sum_micro") ==
      0L + (160000L * 2 / 6) + (400000L * 2 / 2))
  }

  // --- stored model lifecycle --------------------------------------

  test("append-equals-rebuild: base write + batch append serves the " +
      "same model as a from-scratch build over the union corpus") {
    val p = java.nio.file.Files.createTempDirectory("graft_sblm").toString
    val half1 = docsDf(1L -> "a b c a", 2L -> "b c d")
    val half2 = docsDf(3L -> "a b c", 4L -> "d e")
    NgramLm.writeNgramLmOn(half1, p)
    NgramLm.appendToNgramLm(half2, p)
    val served = NgramLm.lmModelFromIndex(spark, p)
    val rebuilt = NgramLm.countsOn(half1.unionByName(half2))
    assert(served.exceptAll(rebuilt).isEmpty
      && rebuilt.exceptAll(served).isEmpty)
  }

  test("lmScoreServed equals in-query lmScore on the corpus") {
    val served = NgramLm.lmScoreServed(spark, dir)
    val inQuery = NgramLm.lmScore(spark, dir)
    assert(served.schema.fieldNames.sameElements(inQuery.schema.fieldNames))
    assert(served.exceptAll(inQuery).isEmpty
      && inQuery.exceptAll(served).isEmpty)
  }

  test("lmGate keeps exactly the cross-corpus-scored docs clearing the " +
      "threshold") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val model = NgramLm.countsOn(docs.filter(col("lang") === "en"))
    val all = NgramLm.scoreOn(docs, model)
    val expected = all.filter(col("avg_micro") >= 100000L)
    val gate = NgramLm.lmGate(spark, dir)
    assert(gate.exceptAll(expected).isEmpty
      && expected.exceptAll(gate).isEmpty)
  }

  test("lmBuckets splits the corpus into exact head/middle/tail thirds " +
      "with (avg_micro DESC, doc_id) rank order, ties included") {
    val b = NgramLm.lmBuckets(spark, dir).collect()
    val n = b.length
    val counts = b.groupBy(_.getAs[String]("bucket"))
      .map { case (k, v) => k -> v.length }
    assert(counts("head") == n / 3)
    assert(counts("head") + counts("middle") == 2 * n / 3)
    assert(counts.values.sum == n)
    // rank is a permutation of 1..n and respects the score order
    val byRank = b.sortBy(_.getAs[Long]("rk"))
    assert(byRank.map(_.getAs[Long]("rk")).toSeq == (1L to n).toSeq)
    byRank.sliding(2).foreach { case Array(a, c) =>
      val (sa, sc) = (a.getAs[Long]("avg_micro"), c.getAs[Long]("avg_micro"))
      assert(sa > sc ||
        (sa == sc && a.getAs[Long]("doc_id") < c.getAs[Long]("doc_id")))
    }
  }

  // --- plan shape ---------------------------------------------------

  test("lmCountsTop plans per-order TakeOrderedAndProject (map-side " +
      "partial top-k), never a 3-key rank window over the dictionary") {
    val plan = NgramLm.lmCountsTop(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject branches:\n$plan")
  }

  test("training is ONE shuffle: the stack fan-out happens before the " +
      "partial aggregation, so the plan has a single exchange") {
    val plan = NgramLm.countsOn(
      graft.sources.Tables.documents(spark, dir))
      .queryExecution.executedPlan.toString
    assert(plan.sliding("Exchange".length).count(_ == "Exchange") == 1,
      s"expected exactly one shuffle in the training plan:\n$plan")
  }
}
