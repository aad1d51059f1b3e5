package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Materialized MinHash admission index: the on-disk twin of
  * [[Dedup.minhashJoinOn]]'s corpus side. Results must be identical to
  * the in-memory path, and the probe plan must never re-shingle or
  * re-sign the stored corpus — that single property is what makes the
  * index worth writing at 100 TB.
  */
class MinhashIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  private lazy val docs = graft.sources.Tables.documents(spark, dir)
  private lazy val corpus = docs.filter(col("doc_id") % 10 =!= 7)
  // the natural batch split plus exact copies of three corpus docs under
  // shifted ids — guarantees jaccard-1.0 matches so the equality check
  // is never vacuous
  private lazy val batch = docs.filter(col("doc_id") % 10 === 7)
    .unionByName(corpus.filter(col("doc_id") < 5)
      .withColumn("doc_id", col("doc_id") + 1000000L))

  private lazy val indexPath: String = {
    val p = Files.createTempDirectory("graft_mhidx").toString
    Dedup.writeMinhashIndex(corpus, p)
    p
  }

  test("index probe equals the in-memory fuzzy join exactly, non-vacuously") {
    val direct = Dedup.minhashJoinOn(batch, corpus, 0.7)
      .collect().map(_.toString).toSeq
    val probed = Dedup.minhashJoinFromIndex(spark, batch, indexPath, 0.7)
      .collect().map(_.toString).toSeq
    assert(probed == direct)
    assert(probed.size >= 3, "planted exact copies must match their sources")
  }

  test("append ≡ rebuild: probing an appended index equals probing an " +
    "index rebuilt over the union corpus, non-vacuously") {
    // split the corpus: build on the first 80%, append the rest
    val baseCorpus = corpus.filter(col("doc_id") % 5 =!= 4)
    val appendBatch = corpus.filter(col("doc_id") % 5 === 4)
    assert(appendBatch.count() > 0)
    val appended = Files.createTempDirectory("graft_mhapp").toString
    Dedup.writeMinhashIndex(baseCorpus, appended)
    Dedup.appendToMinhashIndex(appendBatch, appended)
    val rebuilt = Files.createTempDirectory("graft_mhreb").toString
    Dedup.writeMinhashIndex(corpus, rebuilt)
    val viaAppend = Dedup.minhashJoinFromIndex(spark, batch, appended, 0.7)
      .collect().map(_.toString).toSeq
    val viaRebuild = Dedup.minhashJoinFromIndex(spark, batch, rebuilt, 0.7)
      .collect().map(_.toString).toSeq
    assert(viaAppend == viaRebuild)
    assert(viaAppend.size >= 3, "planted copies must still match")
  }

  test("the append frames scan ONLY the batch: no read of the existing " +
    "index, no read of the original corpus text") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    // batch from its own parquet dir so provenance is unambiguous
    val bdir = Files.createTempDirectory("graft_mhbatch").toString
    batch.write.mode("overwrite").parquet(bdir + "/batchdocs")
    val batchFromDisk = spark.read.parquet(bdir + "/batchdocs")
    // the uncut signed frame exposes the real dataflow (the shipped path
    // only adds a lineage cut on the same graph)
    val (sets, bands) =
      Dedup.minhashIndexFrames(Dedup.minhashSigned(batchFromDisk))
    val roots = Seq(sets, bands).flatMap(_.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Seq()
      }
    }.flatten)
    assert(roots.nonEmpty && roots.forall(_.contains("batchdocs")),
      s"append must derive from the batch alone: $roots")
  }

  test("probe plan reads the corpus from the index, never from documents") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def scansOf(df: org.apache.spark.sql.DataFrame, frag: String): Int =
      df.queryExecution.optimizedPlan.collect {
        case l: LogicalRelation => l.relation match {
          case fs: HadoopFsRelation
            if fs.location.rootPaths.exists(_.toString.contains(frag)) => 1
          case _ => 0
        }
      }.sum
    val probe = Dedup.minhashJoinFromIndex(spark, batch, indexPath, 0.7)
    val direct = Dedup.minhashJoinOn(batch, corpus, 0.7)
    // the probe's documents scans are the live batch side only; the
    // in-memory path additionally scans documents for the corpus's
    // signature and verify passes, so swapping in the index must
    // strictly reduce the count — if it doesn't, the corpus is being
    // recomputed from source instead of served from the stored frames
    assert(scansOf(probe, "documents") < scansOf(direct, "documents"),
      s"probe ${scansOf(probe, "documents")} vs direct ${scansOf(direct, "documents")}")
    // both index frames come off disk
    assert(scansOf(probe, "bands") >= 1 && scansOf(probe, "sets") >= 1)
  }

  test("an index with bands/ but no sets/ (the older shingles/ layout) " +
    "fails loudly on probe and on append, asking for a rebuild") {
    val old = Files.createTempDirectory("graft_mhold").toString
    corpus.filter(col("doc_id") < 20)
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .write.parquet(s"$old/shingles")
    Dedup.minhashIndexFrames(Dedup.minhashSigned(
        corpus.filter(col("doc_id") < 20)))._2
      .write.partitionBy("band").parquet(s"$old/bands")
    for (attempt <- Seq[() => Unit](
        () => Dedup.minhashJoinFromIndex(spark, batch, old, 0.7).collect(),
        () => Dedup.appendToMinhashIndex(batch, old))) {
      val e = intercept[IllegalArgumentException](attempt())
      assert(e.getMessage.contains("no sets/") &&
        e.getMessage.contains("rebuild"), e.getMessage)
    }
    assert(!new java.io.File(s"$old/sets").exists,
      "a failed append must write nothing")
  }
}
