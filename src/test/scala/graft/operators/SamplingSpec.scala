package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class SamplingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("hash sample hits ~16% rate, reproducibly") {
    val total = graft.sources.Tables.lineitem(spark, dir).count()
    val a = Sampling.hashSample(spark, dir).collect()
    val rate = a.length.toDouble / total
    assert(rate > 0.13 && rate < 0.19, s"sample rate $rate far from 0.16")
    val b = Sampling.hashSample(spark, dir).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
  }

  test("stratified cap keeps at most k per stratum and is deterministic") {
    val out = Sampling.stratifiedCap(spark, dir, k = 7)
    val perSource = out.groupBy("source").count().collect()
    assert(perSource.nonEmpty)
    assert(perSource.forall(_.getAs[Long]("count") <= 7))
    val again = Sampling.stratifiedCap(spark, dir, k = 7).collect()
    assert(out.collect().map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("cluster-balanced sample caps every IVF cell, picks are " +
    "contiguous ranks, and assignment agrees with semDedup's cells") {
    import org.apache.spark.sql.functions._
    val out = Sampling.clusterBalancedSample(spark, dir, perCell = 9)
    val rows = out.collect()
    assert(rows.nonEmpty)
    val byCell = rows.groupBy(_.getAs[Long]("cid"))
    byCell.foreach { case (cid, rs) =>
      assert(rs.length <= 9, s"cell $cid over cap")
      assert(rs.map(_.getAs[Int]("pick")).sorted.toSeq
        == (1 to rs.length), s"cell $cid picks not contiguous")
    }
    // same centroid convention as the similarity family: every sampled
    // member's cell must equal semDedupOn's assignment for that vec
    import graft.functions.VectorFunctions.vecD
    val cells = Similarity.semDedupOn(
      graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), vecD(col("embedding")).as("v")))
      .select(col("vec_id"), col("cid").as("sd_cid"))
    val joined = out.join(cells, "vec_id")
      .filter(col("cid") =!= col("sd_cid")).count()
    assert(joined == 0, "cell assignment diverged from semDedup")
  }

  test("curriculum pack: four phases, per-source quartile sizes, and no " +
      "bin overflows its token budget (except single oversized docs)") {
    import org.apache.spark.sql.functions._
    val budget = 512
    val out = Sampling.curriculumPack(spark, dir, budget = budget)
    val rows = out.collect()
    assert(rows.map(_.getInt(2)).toSet == Set(0, 1, 2, 3))
    // quartiles: within each source, phase sizes differ by at most 1+1
    // (percent_rank boundary docs can tip either side of a cut)
    val bySource = rows.groupBy(_.getString(1))
    for ((src, rs) <- bySource) {
      val sizes = rs.groupBy(_.getInt(2)).view.mapValues(_.length)
      assert(sizes.values.max - sizes.values.min <= 2,
        s"$src phase sizes $sizes not quartile-balanced")
    }
    // a bin's token total stays within budget + one doc (the packer
    // closes a bin only once the cumsum passes the boundary)
    for (((_, _, _), rs) <- rows.groupBy(r =>
        (r.getString(1), r.getInt(2), r.getLong(4)))) {
      val tot = rs.map(_.getInt(3).toLong).sum
      val maxDoc = rs.map(_.getInt(3).toLong).max
      assert(tot < budget + maxDoc, s"bin total $tot, max doc $maxDoc")
    }
    val again = Sampling.curriculumPack(spark, dir, budget = budget).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("temperature cap admits exactly the budget (largest-remainder caps)") {
    // every source at sf0.001 has far more docs than its cap, so the
    // admitted total must hit the budget exactly — no ceil overshoot
    for (budget <- Seq(37, 100, 200)) {
      val out = Sampling.temperatureCap(spark, dir, budget = budget)
      assert(out.count() == budget, s"budget $budget")
    }
  }

  test("weighted systematic sample covers every step multiple exactly once; " +
      "heavy docs always kept") {
    import org.apache.spark.sql.functions._
    val step = 80L
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("w"))
    val totals = docs.groupBy("source").agg(sum("w").as("tot"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val picked = Sampling.weightedSystematic(spark, dir, step)
    // conservation: the step-multiples of (0, total] are covered exactly
    // once across the picked rows' disjoint (cum-w, cum] intervals — the
    // "one sample per step tokens" contract, exact, not approximate
    val covered = picked
      .withColumn("m", expr(s"cum div ${step}L - (cum - n_tokens) div ${step}L"))
      .groupBy("source").agg(sum("m").as("m"), count(lit(1)).as("picks"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    totals.foreach { case (src, tot) =>
      val (m, picks) = covered.getOrElse(src, (0L, 0L))
      assert(m == tot / step,
        s"$src: intervals cover $m multiples, want ${tot / step} from $tot tokens")
      assert(picks <= tot / step && picks > 0)
    }
    // a document heavier than step can't fail to straddle a boundary
    val pickedIds = picked.select("doc_id").collect().map(_.getLong(0)).toSet
    val heavy = docs.filter(col("w") >= step)
      .select("doc_id").collect().map(_.getLong(0))
    assert(heavy.nonEmpty && heavy.forall(pickedIds.contains))
  }

  test("clustersFromPairs resolves transitive chains to the min label") {
    val schema = StructType(Seq(StructField("da", LongType),
      StructField("db", LongType)))
    // chain 1-2-3 (needs >1 propagation round), island 5-6
    val pairs = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, 2L), Row(2L, 3L), Row(5L, 6L)), schema)
    val got = Dedup.clustersFromPairs(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("clusters from an EMPTY pair list yield an empty frame, no NPE") {
    val schema = StructType(Seq(StructField("da", LongType),
      StructField("db", LongType)))
    val none = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    // a clean corpus (zero near-dup pairs) must flow through curation,
    // not crash the convergence check on a NULL aggregate
    assert(Dedup.clustersFromPairs(none).count() == 0)
  }

  test("pointer doubling converges in O(log d) rounds on a chain") {
    val schema = StructType(Seq(StructField("da", LongType),
      StructField("db", LongType)))
    // adversarial path graph 0-1-2-…-63: diameter 63, so pure
    // neighbor-min propagation needs ~63 rounds; pointer doubling
    // halves the label-to-root distance each round → ~log2(63)+slack
    val chain = (0L until 63L).map(i => Row(i, i + 1))
    val pairs = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(chain).asJava, schema)
    // broadcast off: 63 pairs would otherwise be solved on the driver
    val (got, rounds) = graft.KernelPaths.withConf(pairs,
        graft.KernelPaths.LoopOnly) {
      val (clusters, rounds) = Dedup.clustersFromPairsCounted(pairs)
      (clusters.collect().map(r => r.getLong(0) -> r.getLong(1)), rounds)
    }
    assert(got.length == 64 && got.forall(_._2 == 0L),
      "chain must collapse to one cluster rooted at 0")
    assert(rounds <= 10,
      s"expected O(log 63) ≈ 6-8 rounds incl. convergence check, got $rounds")
  }

  test("leak-free split: every near-dup pair lands on one side; singletons " +
    "match the per-doc split exactly") {
    import org.apache.spark.sql.functions._
    val split = Sampling.splitAssignLeakFree(spark, dir)
    val byDoc = split.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[String]("split")))).toMap
    val pairs = Dedup.minhashNearDup(spark, dir)
      .select(col("da"), col("db")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture must contain near-dup pairs")
    pairs.foreach { case (a, b) =>
      assert(byDoc(a)._2 == byDoc(b)._2, s"pair ($a,$b) straddles the split")
      assert(byDoc(a)._1 == byDoc(b)._1)
    }
    // docs outside every pair keep their own id as cluster id, so their
    // assignment is IDENTICAL to the per-doc splitter — upgrading to the
    // leak-free splitter only ever moves duplication-family members
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val perDoc = Sampling.splitAssign(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    byDoc.filterNot(kv => paired(kv._1)).foreach { case (d, (cid, s)) =>
      assert(cid == d && s == perDoc(d))
    }
  }

  test("splitLeakage: counts exactly the docs whose near-dup twin fell " +
    "on the other side of the hash split; a leak-free corpus reads 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 20 dup pairs (2i, 2i+1 share a text) + 10 singletons; expected
    // leaks computed independently with driver-side md5
    val pairTexts = (0 until 20).map(i =>
      s"pair $i alpha beta gamma delta epsilon zeta eta theta")
    val docs = (0 until 40).map(i => (i.toLong, pairTexts(i / 2), "s")) ++
      (100 until 110).map(i =>
        (i.toLong, s"singleton $i only one copy exists anywhere $i", "s"))
    val df = docs.toDF("doc_id", "text", "source")
    def split(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hk = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 4)
      if (hk <= "cccc") "train" else if (hk <= "e665") "val" else "test"
    }
    val expLeak = (0 until 20).flatMap { i =>
      val (x, y) = (2L * i, 2L * i + 1)
      if (split(x) != split(y)) Seq(split(x) -> x, split(y) -> y) else Nil
    }.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).distinct.size }
    assert(expLeak.values.sum > 0, "fixture must contain split-crossing pairs")
    val got = Sampling.splitLeakageOn(df).collect()
      .map(r => r.getAs[String]("split") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_leaked")))).toMap
    assert(got.values.map(_._1).sum == 50L, got.toString)
    got.foreach { case (s, (_, leaked)) =>
      assert(leaked == expLeak.getOrElse(s, 0).toLong, s"$s: $got vs $expLeak")
    }
    // singletons never leak
    assert(got.values.map(_._2).sum == expLeak.values.sum.toLong)
  }

  test("reconciliation: the leakage probe over splitAssignLeakFree's " +
    "assignment reports n_leaked = 0 on a planted near-dup corpus " +
    "where the per-doc hash split demonstrably leaks") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // same planted shape as above: 20 exact-dup pairs + 10 singletons
    val pairTexts = (0 until 20).map(i =>
      s"pair $i alpha beta gamma delta epsilon zeta eta theta")
    val docs = (0 until 40).map(i => (i.toLong, pairTexts(i / 2), "s")) ++
      (100 until 110).map(i =>
        (i.toLong, s"singleton $i only one copy exists anywhere $i", "s"))
    val df = docs.toDF("doc_id", "text", "source")
    // non-vacuous: the per-doc hash split leaks on this corpus
    val hashLeaked = Sampling.splitLeakageOn(df).collect()
      .map(_.getAs[Long]("n_leaked")).sum
    assert(hashLeaked > 0, "fixture must leak under the per-doc split")
    // the cluster-keyed assignment drives it to zero — the Scaladoc
    // claim of splitAssignLeakFree, pinned through the SAME probe
    val tmp = java.nio.file.Files.createTempDirectory("graft_lfl").toString
    df.write.mode("overwrite").parquet(tmp + "/documents.parquet")
    val lf = Sampling.splitAssignLeakFree(spark, tmp)
      .select(col("doc_id"), col("split"))
    val got = Sampling.splitLeakageOfAssignment(df, lf, 0.7).collect()
    assert(got.map(_.getAs[Long]("n_docs")).sum == 50L)
    got.foreach { r =>
      assert(r.getAs[Long]("n_leaked") == 0L, got.mkString(", "))
      assert(r.getAs[Double]("leak_frac") == 0.0)
    }
  }
}
