package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.functions.VectorFunctions._
import graft.sources.Tables

/** The IVF physical layout: cell-partitioned index directories whose
  * probe prunes partitions at scan time — the at-scale answer SCALING.md
  * gives for ANN, made executable.
  */
class IvfIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  private lazy val indexPath = {
    val p = Files.createTempDirectory("graft_ivf").toString + "/index"
    Similarity.writeIvfIndex(spark, dir, p)
    p
  }

  test("index layout is one directory per cell") {
    val cells = new java.io.File(indexPath).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cid="))
    assert(cells.length == 16, cells.mkString(", "))
  }

  test("ivfRebalanceTwin equals the stored-layout rebalance report") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Long]("n_vectors"),
        r.getAs[Double]("share"), r.getAs[Boolean]("hot"))).toSeq
    val twin = rows(Similarity.ivfRebalanceTwin(spark, dir))
    val prod = rows(Similarity.ivfRebalanceReport(spark, dir))
    assert(twin == prod,
      s"twin audit must match the stored-layout lifecycle:\n$twin\n$prod")
    // the planted skew must actually exercise a split: a child cell
    // beyond the original 16 ids exists
    assert(twin.exists(_._1 >= 16L), s"no split happened: $twin")
  }

  test("ivfPq rebalance audit equals the oracle twin's audit") {
    // same planting, same shared fitCellSplits splitter, same hot rule —
    // so the coded family's post-rebalance cell populations must equal
    // the oracle-checked twin's exactly (codes are lossy but membership
    // is not), giving the PQ lifecycle the oracle's witness too
    def rows(df: org.apache.spark.sql.DataFrame, idCol: String) =
      df.collect().map(r => (r.getAs[Long](idCol), r.getAs[Long]("n_vectors"),
        r.getAs[Double]("share"), r.getAs[Boolean]("hot"))).toSeq
    val twin = rows(Similarity.ivfRebalanceTwin(spark, dir), "cid")
    val pq = rows(Similarity.ivfPqRebalanceReport(spark, dir), "cell")
    assert(pq == twin, s"pq audit diverged from the twin:\n$pq\n$twin")
  }

  test("probing the layout returns exactly the in-memory IVF results") {
    val fromIndex = Similarity.annIvfFromIndex(spark, indexPath, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val inMemory = Similarity.annIvfTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(fromIndex == inMemory)
  }

  test("incremental append equals a full rebuild over the union") {
    val p = Files.createTempDirectory("graft_ivf_inc").toString + "/index"
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    val centroids = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    // base layout from the even half only, then admit the odd half as a batch
    Similarity.assignNearest(emb.filter(col("vec_id") % 2 === 0), centroids)
      .write.mode("overwrite").partitionBy("cid").parquet(p)
    Similarity.appendToIvfIndex(spark, dir, emb.filter(col("vec_id") % 2 === 1), p)
    val appended = Similarity.annIvfFromIndex(spark, p, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val rebuilt = Similarity.annIvfFromIndex(spark, indexPath, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(appended == rebuilt)
  }

  test("ivf-pq layout: stored-code probe equals the in-memory search and " +
    "prunes code partitions at scan time") {
    val p = Files.createTempDirectory("graft_ivfpq").toString + "/index"
    Similarity.writeIvfPqIndex(spark, dir, p)
    val cells = new java.io.File(p + "/codes").listFiles()
      .filter(_.isDirectory).count(_.getName.startsWith("cell="))
    assert(cells == 16, s"one code directory per coarse cell, got $cells")
    val fromIndex = Similarity.ivfPqFromIndex(spark, p, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inMemory = Similarity.ivfPqTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromIndex == inMemory)
    val plan = Similarity.ivfPqFromIndex(spark, p, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan)
  }

  test("ivf-pq append: admitting a batch equals re-coding the union " +
    "under the same frozen artifacts, and the admission plan never " +
    "reads the stored codes or the corpus") {
    val p = Files.createTempDirectory("graft_ivfpq_inc").toString + "/index"
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    val base = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 === 1)
    // base layout trained on the even half only — ITS artifacts are the
    // frozen serving configuration every later admission encodes under
    val (coarse, cb, codes) = Similarity.ivfPqArtifactOn(base, 16, 16, 64)
    codes.write.mode("overwrite").partitionBy("cell").parquet(p + "/codes")
    cb.write.mode("overwrite").parquet(p + "/codebook")
    coarse.write.mode("overwrite").parquet(p + "/coarse")

    // plan proof BEFORE the append: the admission frame reads the batch
    // + the two broadcast-sized artifact frames — not codes/, not the
    // embeddings table beyond the batch's own pushed-filter scan
    val admission = Similarity.ivfPqBatchCodes(spark, batch, p)
    val scanned = admission.queryExecution.executedPlan.toString
    assert(!scanned.contains(p + "/codes"),
      "admission must never read the stored code directories")

    Similarity.appendToIvfPqIndex(spark, batch, p)
    // append ≡ re-code: the appended codes table must equal coding the
    // UNION corpus under the same frozen (coarse, codebook) in one shot
    val appended = spark.read.parquet(p + "/codes")
      .select(col("vec_id"), col("cell").cast("long"), col("sub"), col("cid"))
      .collect().map(_.toString).sorted.toSeq
    val recoded = Similarity.ivfPqBatchCodes(spark, emb, p)
      .select(col("vec_id"), col("cell").cast("long"), col("sub"), col("cid"))
      .collect().map(_.toString).sorted.toSeq
    assert(appended == recoded)
    // and only the batch's cells gained files: every code row for an
    // even id predates the append (no rewrite of existing rows) —
    // count check: appended table = base codes + batch codes exactly
    assert(appended.length == recoded.length && recoded.nonEmpty)
  }

  test("the probe prunes index partitions at scan time") {
    val p = Similarity.annIvfFromIndex(spark, indexPath, dir)
      .queryExecution.executedPlan.toString
    // the broadcast probe-cell join must reach the scan as a dynamic
    // partition filter: the C - nprobe unprobed directories are never read
    assert(p.contains("dynamicpruning"), p)
  }

  test("the BATCHED probe equals per-id probes bit-exactly, still " +
    "prunes at scan time, and collapses ranking map-side") {
    val ids = Seq(0L, 7L, 19L)
    val multi = Similarity.annIvfFromIndexMulti(spark, indexPath, dir, ids)
    val byId = multi.collect().groupBy(_.getLong(0))
    ids.foreach { qid =>
      val single = Similarity.annIvfFromIndex(spark, indexPath, dir, qid)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      val batched = byId(qid).sortBy(_.getInt(1))
        .map(r => (r.getLong(2), r.getDouble(3))).toSeq
      assert(batched == single, s"probe for query $qid")
    }
    val p = multi.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"), p)
    assert(p.contains("partial_topkpairs"), p)
  }

  test("arbitrary-batch probe equals the table-query probe on the same " +
    "vectors, and refuses an index without a codebook sidecar") {
    import graft.functions.VectorFunctions.vecD
    val ids = Seq(0L, 7L)
    val batch = graft.sources.Tables.embeddings(spark, dir)
      .filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    val fromBatch = Similarity.ivfProbeBatchOn(spark, batch, indexPath)
      .collect().map(_.toString).toSeq
    val fromTable = Similarity
      .annIvfFromIndexMulti(spark, indexPath, dir, ids)
      .collect().map(_.toString).toSeq
    assert(fromBatch == fromTable)
    val bare = java.nio.file.Files
      .createTempDirectory("graft_ivf_bare").toString + "/idx"
    Similarity.assignNearest(batch,
        batch.select(col("vec_id").as("cid"), col("v").as("cv")))
      .write.mode("overwrite").partitionBy("cid").parquet(bare)
    val e = intercept[IllegalArgumentException](
      Similarity.ivfProbeBatchOn(spark, batch, bare))
    assert(e.getMessage.contains("codebook sidecar"))
  }

  test("checkUniqueIds on: a duplicated vec_id fails naming the id and " +
    "unique ids probe normally; unset: no check runs") {
    val batch = Tables.embeddings(spark, dir)
      .filter(col("vec_id").isin(0L, 7L))
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    val dup = batch.unionByName(batch.filter(col("vec_id") === 7L))
    def probe(s: org.apache.spark.sql.SparkSession,
        b: org.apache.spark.sql.DataFrame) =
      Similarity.ivfProbeBatchOn(s, b, indexPath)
        .collect().map(_.toString).toSeq
    val unchecked = spark.newSession()
    val checked = spark.newSession()
    checked.conf.set("spark.graft.ivf.checkUniqueIds", "true")
    val e = intercept[IllegalArgumentException](probe(checked, dup))
    assert(e.getMessage.contains("vec_id 7 appears 2 times"), e.getMessage)
    assert(probe(checked, batch) == probe(unchecked, batch))
    // unset, the duplicated batch is probed as is: its two id-7 vectors
    // merge into one ranking instead of failing
    assert(probe(unchecked, dup).nonEmpty)
  }

  // --- hot-cell rebalance ---

  /** Skewed fixture: every cell-3 member cloned 3× (fresh ids), so cell
    * 3 holds 4× its natural mass — deterministically hot at the 2×
    * threshold.
    */
  private lazy val skewed = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    val centroids = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val cell3 = Similarity.assignNearest(emb, centroids)
      .filter(col("cid") === 3).select(col("vec_id"), col("v"))
    val clones = (1 to 3).map(i => cell3.select(
      (col("vec_id") + lit(i * 1000000L)).as("vec_id"), col("v")))
      .reduce(_.unionByName(_))
    (emb.unionByName(clones), centroids,
      cell3.select(col("vec_id")).orderBy(col("vec_id"))
        .limit(1).collect().head.getLong(0))
  }

  private def cellRows(p: String): Map[Long, Seq[(Long, Seq[Double])]] =
    spark.read.parquet(p)
      .select(col("cid").cast("long"), col("vec_id"), col("v"))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getSeq[Double](2))))
      .groupBy(_._1).map { case (c, xs) =>
        (c, xs.map(_._2).sortBy(_._1).toSeq) }

  test("rebalance splits the hot cell, preserves every vector exactly " +
    "once, and leaves cold cells bit-identical (rows AND files)") {
    val (embAll, centroids, _) = skewed
    val p = Files.createTempDirectory("graft_ivf_reb").toString + "/index"
    Similarity.writeIvfIndexOn(embAll, centroids, p)
    val before = cellRows(p)
    assert(before(3L).size.toLong * 16 > 2 * before.values.map(_.size).sum,
      "fixture must make cell 3 hot")
    val coldMtimes = new java.io.File(p).listFiles()
      .filter(f => f.isDirectory && f.getName != "cid=3")
      .flatMap(_.listFiles()).map(f => f.getPath -> f.lastModified).toMap

    val stats = Similarity.rebalanceIvfCells(spark, dir, p).collect()
    assert(stats.length == 17, "one split: 16 + 1 child cells")
    val after = cellRows(p)
    // cold cells: identical rows, identical untouched files
    for (c <- before.keys if c != 3L)
      assert(after(c) == before(c), s"cold cell $c must be untouched")
    val coldAfter = new java.io.File(p).listFiles()
      .filter(f => f.isDirectory && f.getName != "cid=3"
        && f.getName != "cid=16")
      .flatMap(_.listFiles()).map(f => f.getPath -> f.lastModified).toMap
    assert(coldAfter == coldMtimes, "cold directories must not be rewritten")
    // global integrity: the split moved rows, never dropped or forged
    assert((after(3L) ++ after(16L)).sortBy(_._1) == before(3L))
    // the split strictly improves balance
    val maxBefore = before.values.map(_.size).max
    assert(after.values.map(_.size).max < maxBefore)
    // cold codebook entries unchanged (probe geometry preserved)
    val cb = spark.read.parquet(p + "_codebook")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val cold = centroids.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    for (c <- cold.keys if c != 3L)
      assert(cb(c) == cold(c), s"cold centroid $c must be frozen")
    assert(cb.contains(16L) && cb(3L) != cold(3L),
      "hot centroid replaced by fitted children")
  }

  test("the audit -> apply -> re-audit loop CONVERGES: repeated " +
    "rebalance rounds cool the planted 4x cell to a hot-free layout") {
    val (embAll, centroids, _) = skewed
    val p = Files.createTempDirectory("graft_ivf_loop").toString + "/index"
    Similarity.writeIvfIndexOn(embAll, centroids, p)
    var rounds = 0
    var hotLeft = 1L
    while (hotLeft > 0 && rounds < 5) {
      val audit = Similarity.rebalanceIvfCells(spark, dir, p).collect()
      hotLeft = audit.count(_.getBoolean(3))
      rounds += 1
    }
    assert(hotLeft == 0, s"loop must cool the layout (rounds=$rounds)")
    assert(rounds <= 3, s"a 4x cell should cool in <=3 rounds, took $rounds")
    // and the layout is still complete: every vector exactly once
    val n = spark.read.parquet(p).count()
    assert(n == embAll.count(), "no vector lost or forged across rounds")
  }

  test("IVF-PQ rebalance: splits the hot cell with recoded residuals, " +
    "leaves cold code partitions bit-identical, freezes cold coarse " +
    "centroids, and self-match survives the split end to end") {
    val (embAll, _, queryId) = skewed
    val p = Files.createTempDirectory("graft_pq_reb").toString + "/index"
    Similarity.writeIvfPqIndex(spark, dir, p)
    // plant the skew through the shipped append path: the cell-3
    // clones code into cell 3 under the frozen artifacts -> 4x mass
    Similarity.appendToIvfPqIndex(spark,
      embAll.filter(col("vec_id") >= 1000000L), p)
    def codeRows(cell: Long): Map[Long, Int] =
      spark.read.parquet(p + "/codes")
        .filter(col("cell").cast("long") === cell)
        .groupBy(col("vec_id")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    val hotBefore = codeRows(3L)
    val coarseBefore = spark.read.parquet(p + "/coarse")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val coldMtimes = new java.io.File(p + "/codes").listFiles()
      .filter(f => f.isDirectory && f.getName != "cell=3")
      .flatMap(_.listFiles()).map(f => f.getPath -> f.lastModified).toMap
    def served() = Similarity
      .ivfPqFromIndex(spark, p, dir, queryId = queryId, k = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(served().head == queryId, "self-match before the split")
    val audit = Similarity.rebalanceIvfPqCellsOn(spark, embAll, p)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getBoolean(3))).toList
    // the parent split: child appended and balance strictly improved —
    // each half carries strictly less than the pre-split mass (a 4x
    // cell halves to ~2x; fully cooling it is the caller's
    // audit -> apply -> re-audit loop, the documented contract)
    assert(audit.exists(_._1 == 16L), audit.mkString(", "))
    val preMass = hotBefore.size
    audit.filter(a => a._1 == 3L || a._1 == 16L).foreach { a =>
      assert(a._2 < preMass, s"half ${a._1} must shrink: $audit") }
    // integrity: the split moved every hot vector exactly once, each
    // still carrying its m code rows
    val after = codeRows(3L) ++ codeRows(16L)
    assert(after == hotBefore,
      "split members preserved with their m code rows each")
    // cold code directories untouched (bytes, not just rows)
    val coldAfter = new java.io.File(p + "/codes").listFiles()
      .filter(f => f.isDirectory && f.getName != "cell=3"
        && f.getName != "cell=16")
      .flatMap(_.listFiles()).map(f => f.getPath -> f.lastModified).toMap
    assert(coldAfter == coldMtimes, "cold code dirs must not be rewritten")
    // coarse quantizer: cold centroids frozen, parent replaced by a
    // fitted child, child B appended
    val coarseAfter = spark.read.parquet(p + "/coarse")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    for (c <- coarseBefore.keys if c != 3L)
      assert(coarseAfter(c) == coarseBefore(c), s"cold centroid $c moved")
    assert(coarseAfter.contains(16L)
      && coarseAfter(3L) != coarseBefore(3L))
    assert(served().head == queryId, "self-match after the split")
  }

  test("probe recall around the split cell is non-decreasing, and the " +
    "rebalance data path reads ONLY hot partitions (plan-proved)") {
    val (embAll, centroids, queryId) = skewed
    val p = Files.createTempDirectory("graft_ivf_reb2").toString + "/index"
    Similarity.writeIvfIndexOn(embAll, centroids, p)
    val q = embAll.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"))
    val exact = embAll.crossJoin(broadcast(q))
      .select(col("vec_id"), cosine(col("v"), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    def recall(): Int = Similarity
      .annIvfFromIndex(spark, p, dir, queryId = queryId, k = 10, nprobe = 2)
      .collect().map(_.getLong(0)).count(exact)
    val before = recall()
    // plan proof: the hot-cell read carries a static partition filter
    val plan = Similarity.hotCellRows(spark, p, Seq(3L))
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(plan).isDefined,
      plan)
    Similarity.rebalanceIvfCells(spark, dir, p)
    assert(recall() >= before, s"recall must not decrease (before=$before)")
  }
}
