package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Every lineage cut is a `localCheckpoint` made in [[Materialize]]: the
  * read-before-overwrite cut must not depend on the files it replaces,
  * `release` frees only a frame that is exactly one cut, and no other
  * file in the engine cuts lineage on its own.
  */
class MaterializeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("cutForOverwrite is independent of its source files: an " +
      "overwrite after the cut is not seen") {
    val s = spark.newSession()
    import s.implicits._
    import Materialize.MatOps
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mat").toString + "/t"
    Seq(1, 2, 3).toDF("v").write.parquet(dir)
    val cut = s.read.parquet(dir).cutForOverwrite()
    // overwrite the very files the cut was read from
    Seq(100, 200).toDF("v").write.mode("overwrite").parquet(dir)
    assert(cut.orderBy("v").as[Int].collect().toSeq == Seq(1, 2, 3),
      "the cut must not see post-overwrite data")
  }

  test("Materialize is the only engine file that cuts lineage: no other " +
      "file calls localCheckpoint, checkpoint or setCheckpointDir") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val cut = raw"localCheckpoint\(|\.checkpoint\(|setCheckpointDir".r
    val comment = raw"^\s*(//|/?\*)".r
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.exists(_.endsWith("Materialize.scala")))
    val calls = for {
      f <- files if !f.endsWith("Materialize.scala")
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if comment.findFirstIn(line).isEmpty && cut.findFirstIn(line).nonEmpty
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(calls.isEmpty, calls.mkString("\n"))
  }

  test("release frees an earlier cut's blocks once its consumer has " +
      "eagerly materialized, and the consumer's data survives") {
    val s = spark.newSession()
    import s.implicits._
    import Materialize.MatOps
    val before = s.sparkContext.getPersistentRDDs.keySet
    val tf = (1 to 4).toDF("v").cutLineage(eager = true)
    val tfIds = s.sparkContext.getPersistentRDDs.keySet -- before
    assert(tfIds.nonEmpty, "eager local cut must register persisted blocks")
    // downstream consumer cut EAGERLY before the release — the
    // tfidfCosinePairsOn discipline
    val weighted = tf.withColumn("w", col("v") * 2).cutLineage(eager = true)
    Materialize.release(tf)
    val after = s.sparkContext.getPersistentRDDs.keySet
    assert(tfIds.forall(!after.contains(_)),
      s"released cut must drop its persisted RDDs: kept ${tfIds & after}")
    assert(weighted.orderBy("v").select("w").as[Int].collect().toSeq ==
      Seq(2, 4, 6, 8), "consumer must still serve from its own cut")
  }

  test("clustersFromPairs and appendToMinhashIndex release their own " +
      "cuts: after each call the persistent RDDs hold only the returned " +
      "frame's") {
    import graft.operators.Dedup
    val s = spark.newSession()
    import s.implicits._
    def persisted() = s.sparkContext.getPersistentRDDs.keySet
    // a chain takes more than one round, so a round's labels are released
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("da", "db")
    // both paths: the loop (broadcast off) returns its last labels cut,
    // the driver path a local frame holding no cut at all
    for (conf <- Seq(KernelPaths.LoopOnly, Nil))
        KernelPaths.withConf(pairs, conf) {
      val before = persisted()
      val clusters = Dedup.clustersFromPairs(pairs)
      val returned = clusters.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }.toSet
      val cuts = if (conf.nonEmpty) 1 else 0
      assert(returned.size == cuts, s"$cuts cut(s) expected with $conf")
      assert(persisted() -- before == returned,
        s"left behind: ${persisted() -- before -- returned}")
      assert(clusters.select("cluster_id").distinct().count() == 2)
    }
    val docs = (1L to 6L).map(i =>
      (i, s"doc $i words alpha beta gamma delta epsilon zeta eta"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_mat_idx")
      .toString
    Dedup.writeMinhashIndex(docs.filter(col("doc_id") <= 3), idx)
    val beforeAppend = persisted()
    Dedup.appendToMinhashIndex(docs.filter(col("doc_id") > 3), idx)
    assert((persisted() -- beforeAppend).isEmpty)
    assert(s.read.parquet(s"$idx/sets").count() == 6)
  }

  test("release refuses a frame that is not exactly one cut: a derived " +
      "frame joining two cuts would release blocks shared with other " +
      "consumers") {
    val s = spark.newSession()
    import s.implicits._
    import Materialize.MatOps
    val a = (1 to 3).toDF("v").cutLineage(eager = true)
    val b = (1 to 3).toDF("v").cutLineage(eager = true)
    val derived = a.join(b, "v")
    val e = intercept[IllegalArgumentException] {
      Materialize.release(derived)
    }
    assert(e.getMessage.contains("exactly one materialized scan"))
    // and both cuts must still be readable — nothing was released
    assert(a.count() == 3 && b.count() == 3)
  }

  test("artifactDir replaces on rebuild: re-requesting a name deletes " +
      "the session's PRIOR artifact, never another name's") {
    val spark = TestSpark.spark
    val a1 = Materialize.artifactDir(spark, "matspec_idx")
    val other = Materialize.artifactDir(spark, "matspec_other")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(a1))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(other))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(a1, "part-0"), "x")
    val a2 = Materialize.artifactDir(spark, "matspec_idx")
    assert(a2 != a1)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(a1)),
      "prior same-name artifact must be reclaimed")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(other)),
      "other artifacts must be untouched")
  }

  test("artifactDir keyed by a memo-style dir-qualified name: a second " +
      "data dir's artifact never reclaims the first's (the round-10 " +
      "fixed-name bug), and non-path-safe characters are sanitized") {
    val spark = TestSpark.spark
    val dirA = Materialize.artifactDir(spark, "matspec_idx:/data/a")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dirA))
    assert(!dirA.split("/").last.contains(":"),
      "path component must be sanitized")
    // a DIFFERENT data dir requests the same logical artifact family —
    // with dir-qualified names this is a different key, so dirA survives
    val dirB = Materialize.artifactDir(spark, "matspec_idx:/data/b")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dirA)),
      "first dir's artifact must survive a second dir's build")
    // but re-requesting the SAME dir-qualified name still replaces
    val dirA2 = Materialize.artifactDir(spark, "matspec_idx:/data/a")
    assert(dirA2 != dirA)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dirA)),
      "same-key rebuild must reclaim the prior artifact")
    assert(dirB != dirA2)
  }
}
