package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Exactness contract of the prefix-filtered set-similarity join
  * ([[Dedup.ppjoinPairs]]): output == unblocked brute force, including
  * the pairs the (lang, len_bucket)-blocked sibling misses by design and
  * a pair sitting EXACTLY on the rational 7/10 boundary (the case float
  * thresholds get wrong).
  */
class PpjoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def words(prefix: String, n: Int): Seq[String] =
    (1 to n).map(i => s"$prefix$i")

  // Fixture geometry:
  //  - (1,2): same-length near-dup, well above threshold
  //  - (3,4): EXACT boundary pair — 19-word docs sharing their first 16
  //    words: 17 distinct trigrams each, 14 shared → J = 14/20 = 7/10.
  //    MUST be included (≥, rational); a float-ceil prefix would risk
  //    dropping it silently.
  //  - (5,6): near-dup straddling a 32-word length-bucket boundary
  //    (31 vs 33 words) — invisible to the blocked path's candidates.
  //  - (7,8): cross-LANG exact text dup — also invisible to the blocked
  //    path.
  //  - 9..20: boilerplate family — all share one high-df 12-word header,
  //    pairwise-dissimilar tails (below threshold). The df-ascending
  //    prefix puts the header shingles LAST, so none of these should
  //    produce result pairs, and brute force agrees.
  private lazy val docs = {
    val base = words("w", 40)
    val b34 = words("x", 16) ++ Seq("ya", "yb", "yc")
    val b34b = words("x", 16) ++ Seq("za", "zb", "zc")
    val cross = words("c", 31)
    val crossB = words("c", 31) ++ Seq("tail1", "tail2")
    val header = words("hdr", 12)
    val rows =
      Seq(
        (1L, "en", base.mkString(" ")),
        (2L, "en", (base.dropRight(2) ++ Seq("altA", "altB")).mkString(" ")),
        (3L, "en", b34.mkString(" ")),
        (4L, "en", b34b.mkString(" ")),
        (5L, "en", cross.mkString(" ")),
        (6L, "en", crossB.mkString(" ")),
        (7L, "en", words("dup", 20).mkString(" ")),
        (8L, "fr", words("dup", 20).mkString(" "))
      ) ++ (9L to 20L).map(i =>
        (i, "en", (header ++ words(s"t${i}_", 30)).mkString(" ")))
    import spark.implicits._
    rows.toDF("doc_id", "lang", "text")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("ppjoin == unblocked brute force, boundary pair included") {
    val got = Dedup.ppjoinPairsOn(docs, 7L, 10L)

    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
    val brute = sh.as("a").crossJoin(sh.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        size(array_intersect(col("a.sh"), col("b.sh"))).as("common"),
        size(array_union(col("a.sh"), col("b.sh"))).as("union"))
      // rational threshold on the brute side too: 10·common ≥ 7·union
      .filter(col("common") * 10 >= col("union") * 7)

    val gotPairs = pairSet(got)
    assert(gotPairs == pairSet(brute))
    // the planted structure, explicitly
    assert(gotPairs.contains((1L, 2L)))
    assert(gotPairs.contains((3L, 4L)), "exact-0.7 boundary pair dropped")
    assert(gotPairs.contains((5L, 6L)), "cross-length-bucket pair dropped")
    assert(gotPairs.contains((7L, 8L)), "cross-lang dup dropped")
    assert(!gotPairs.exists { case (a, b) => a >= 9L && b >= 9L },
      "boilerplate-header family must stay below threshold")

    // reported jaccard of the boundary pair is exactly 14/20
    val j = got.filter(col("da") === 3L && col("db") === 4L)
      .select(col("jaccard")).collect().head.getDouble(0)
    assert(j == 14.0 / 20.0)
  }

  test("cross-corpus join == brute force over batch×corpus, and " +
    "dominates the MinHash admission join") {
    val batch = docs.filter(col("doc_id") <= 8L)
    val corpus = docs.filter(col("doc_id") >= 9L)
      // plant a corpus near-copy of batch doc 1 so the result is nonempty
      .unionByName(docs.filter(col("doc_id") === 1L)
        .select((col("doc_id") + 100L).as("doc_id"), col("lang"),
          col("text")))
    val got = Dedup.ppjoinJoinOn(batch.select(col("doc_id"), col("text")),
      corpus.select(col("doc_id"), col("text")), 7L, 10L)
    val gotPairs = got.select("batch_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val sa = batch.select(col("doc_id").as("ba"),
      Dedup.shingles(col("text")).as("sha"))
    val sb = corpus.select(col("doc_id").as("ca"),
      Dedup.shingles(col("text")).as("shb"))
    val brute = sa.crossJoin(sb)
      .select(col("ba"), col("ca"),
        size(array_intersect(col("sha"), col("shb"))).as("common"),
        size(array_union(col("sha"), col("shb"))).as("union"))
      .filter(col("common") * 10 >= col("union") * 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotPairs == brute)
    assert(gotPairs.contains((1L, 101L)), "planted cross-side dup missed")

    val mh = Dedup.minhashJoinOn(batch.select(col("doc_id"), col("text")),
      corpus.select(col("doc_id"), col("text")), 0.7)
      .select("batch_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.subsetOf(gotPairs),
      "exact join must dominate the LSH admission join")
  }

  test("stored ppjoin index: served == in-memory results, append == " +
    "rebuild, and the frozen df order never changes the answer") {
    val sf = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val batch = sf.filter(col("doc_id") % 10 === 7)
      .select(col("doc_id"), col("text"))
    val corpus = sf.filter(col("doc_id") % 10 =!= 7)
      .select(col("doc_id"), col("text"))
    val inMem = Dedup.ppjoinJoinOn(batch, corpus, 7L, 10L)
      .collect().map(_.toString).toSeq

    val full = java.nio.file.Files.createTempDirectory("graft_ppidx").toString
    Dedup.writePpjoinIndex(corpus, full)
    val served = Dedup.ppjoinJoinFromIndex(spark, batch, full)
      .collect().map(_.toString).toSeq
    // exact verify decides membership, so the (frozen-df vs union-df)
    // order difference cannot move the result set
    assert(served == inMem && served.nonEmpty)

    // append ≡ rebuild on RESULTS: half the corpus at build, half
    // admitted later under the frozen order
    val part = java.nio.file.Files.createTempDirectory("graft_ppapp").toString
    Dedup.writePpjoinIndex(corpus.filter(col("doc_id") % 3 =!= 0), part)
    Dedup.appendToPpjoinIndex(corpus.filter(col("doc_id") % 3 === 0), part)
    val viaAppend = Dedup.ppjoinJoinFromIndex(spark, batch, part)
      .collect().map(_.toString).toSeq
    assert(viaAppend == served)
  }

  test("every ppjoin path rejects a threshold outside (0, 1] before it " +
    "reads or writes anything") {
    val batch = docs.filter(col("doc_id") <= 8L)
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") >= 9L)
      .select(col("doc_id"), col("text"))
    val idx = java.nio.file.Files.createTempDirectory("graft_ppbad").toString
    Dedup.writePpjoinIndex(corpus, idx)
    val fresh = s"$idx-unwritten"
    def files(dir: String): Int =
      Option(new java.io.File(dir).list()).map(_.length).getOrElse(0)
    val before = Seq("sets", "prefix").map(d => files(s"$idx/$d"))
    // num > den empties every prefix (the gate would admit everything);
    // num = 0 passes every candidate (it would drop every doc sharing a
    // prefix token); den = 0 is no rational
    for ((num, den) <- Seq((8L, 7L), (0L, 10L), (1L, 0L));
         attempt <- Seq[() => Unit](
           () => Dedup.writePpjoinIndex(corpus, fresh, num, den),
           () => Dedup.appendToPpjoinIndex(batch, idx, num, den),
           () => Dedup.ppjoinJoinFromIndex(spark, batch, idx, num, den),
           () => Dedup.ppjoinJoinOn(batch, corpus, num, den),
           () => Dedup.ppjoinPairsOn(docs, num, den))) {
      val e = intercept[IllegalArgumentException](attempt())
      assert(e.getMessage.contains(s"$num/$den"), e.getMessage)
    }
    assert(!new java.io.File(fresh).exists, "a rejected write wrote")
    assert(Seq("sets", "prefix").map(d => files(s"$idx/$d")) == before,
      "a rejected append appended")
  }

  test("completeness the blocked sibling lacks: cross-bucket and cross-lang") {
    val blocked = Dedup.ngramJaccardPairsOn(docs, 0.7, maxDf = None)
    val blockedPairs = pairSet(blocked)
    assert(!blockedPairs.contains((5L, 6L)),
      "fixture no longer straddles a length bucket — rebuild it")
    assert(!blockedPairs.contains((7L, 8L)),
      "fixture no longer crosses langs — rebuild it")
    val pp = pairSet(Dedup.ppjoinPairsOn(docs, 7L, 10L))
    assert(blockedPairs.subsetOf(pp),
      "ppjoin must dominate the blocked candidates on identical data")
  }
}
