package graft.operators

import graft.Materialize.MatOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Stable._
import graft.functions.VectorFunctions._
import graft.sources.Tables

/** Similarity search over the `embeddings` table.
  *
  * Two tiers, mirroring a production ANN setup:
  *   - brute-force cosine top-k — the exact baseline; a single broadcast
  *     of the query vector and one narrow pass + TakeOrderedAndProject.
  *     O(n·d) per query, the right answer up to ~10⁸ vectors/partitioned
  *     scan, and the recall yardstick for everything else;
  *   - IVF-style partitioned search — vectors pre-assigned to the nearest
  *     of C centroids (here a deterministic codebook: the first 16
  *     vectors); a query probes only the closest `nprobe` cells. At scale
  *     the assignment becomes a bucketed/partitioned layout so a probe
  *     reads only matching partitions.
  */
object Similarity {

  /** Nearest-centroid assignment of every vector in `emb` (vec_id, v) to
    * the broadcast `centroids` (cid, cv): min L2², ties to the lower cid.
    *
    * The argmin is a `min(struct(dist, cid, v))` hash aggregation, NOT a
    * `row_number()` window: the aggregate gets map-side partial
    * aggregation, so the C×n broadcast fan-out collapses back to one row
    * per vector *before* the exchange — the shuffle moves n rows, not
    * C·n. (With a window, the full fanned frame crosses the wire every
    * call — the scale-limiter at 100× data.) The struct comparison is
    * total per group: cid is unique within a vec_id group, so `v` — which
    * is identical on every fanned row of the group — never decides.
    */
  private[graft] def assignNearest(emb: DataFrame, centroids: DataFrame): DataFrame =
    emb.crossJoin(broadcast(centroids))
      .select(col("vec_id"),
        struct(l2sq(col("v"), col("cv")).as("dist"), col("cid"), col("v"))
          .as("cand"))
      .groupBy(col("vec_id"))
      .agg(min(col("cand")).as("best"))
      .select(col("vec_id"), col("best.v").as("v"), col("best.cid").as("cid"))

  /** kNN label-noise sweep (Confident-Learning-style mislabel triage,
    * cf. Northcutt et al., JAIR 2021): every vector's k nearest
    * neighbors vote with their labels; a vector whose own label loses
    * the vote is flagged `is_suspect` — the embedding-space QA pass
    * that surfaces mislabeled training examples before they poison a
    * classifier head. Neighbors are searched IVF-blocked, within the
    * vector's nearest-centroid cell (same naive first-C codebook and
    * argmin assignment as [[annIvfTopK]], so the whole query is
    * oracle-checkable) — never all-pairs: candidate volume is
    * Σ_cell |cell|², the blocked-kNN budget, and at corpus scale the
    * same plan runs over [[kmeansCodebook]] with C ~ √n cells and the
    * materialized [[writeIvfIndex]] layout. The top-k rank window keys
    * on the QUERY vector (high-cardinality; partition = its cell
    * mates), the vote argmax joins vector-sized frames on exact
    * counts, and argmax ties prefer the vector's OWN label first (a
    * vector whose label ties for the top vote did not lose it and is
    * never flagged), then the smaller label — identically on both
    * engines via a prefix-tagged string min. A
    * vector alone in its cell has no neighbors: it reports zero votes
    * and is NOT suspect (insufficient evidence ≠ noise).
    */
  def labelNoise(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    labelNoiseOn(Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v"), col("label")), k)

  /** [[labelNoise]] over any (vec_id, v: array<double>, label) frame. */
  def labelNoiseOn(emb: DataFrame, k: Int): DataFrame = {
    val centroids = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    // assignNearest with the label riding the argmin struct (cid decides
    // every tie before the comparison could reach v or label)
    val assigned = emb.crossJoin(broadcast(centroids))
      .select(col("vec_id"),
        struct(l2sq(col("v"), col("cv")).as("dist"), col("cid"), col("v"),
          col("label")).as("cand"))
      .groupBy(col("vec_id"))
      .agg(min(col("cand")).as("best"))
      .select(col("vec_id"), col("best.cid").as("cid"),
        col("best.v").as("v"), col("best.label").as("label"))
      .cutLineage() // read by the pair join (twice) and the keep-all join
    val mates = assigned.select(col("cid"), col("vec_id").as("nb_id"),
      col("v").as("nv"), col("label").as("nb_label"))
    val pairs = assigned.join(mates, "cid")
      .filter(col("vec_id") =!= col("nb_id"))
      .select(col("vec_id"), col("label"), col("nb_id"), col("nb_label"),
        cosine(col("v"), col("nv")).as("cos"))
    val topk = pairs.withColumn("r", row_number().over(Window
        .partitionBy(col("vec_id")).orderBy(col("cos").desc, col("nb_id"))))
      .filter(col("r") <= k)
    val votes = topk.groupBy(col("vec_id"), col("label"), col("nb_label"))
      .agg(count(lit(1)).as("cnt"))
      .cutLineage() // read by the max and the argmax re-join
    val m = votes.groupBy(col("vec_id"), col("label"))
      .agg(max(col("cnt")).as("n_agree"), sum(col("cnt")).as("n_neighbors"))
    // Tie policy: among labels tied at the max vote, the vector's own
    // label wins (tag '0' sorts before '1'), else the smallest label —
    // a plain string min both engines order identically for ASCII tags.
    val mj = m.join(votes, Seq("vec_id", "label"))
      .filter(col("cnt") === col("n_agree"))
      .groupBy(col("vec_id"), col("label"), col("n_agree"),
        col("n_neighbors"))
      .agg(min(concat(
        when(col("nb_label") === col("label"), lit("0")).otherwise(lit("1")),
        col("nb_label"))).as("sel"))
      // The prefix-tag trick routes the tie-break through a string; cast
      // the winner BACK to the input label column's native type so the
      // public output schema is unchanged by the tie policy (the DuckDB
      // twin mirrors the cast).
      .withColumn("neigh_label", substring(col("sel"), 2, Int.MaxValue)
        .cast(emb.schema("label").dataType))
    assigned.select(col("vec_id"), col("label"))
      .join(mj.select(col("vec_id"), col("neigh_label"), col("n_agree"),
        col("n_neighbors")), Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("neigh_label"),
        coalesce(col("n_agree"), lit(0L)).as("n_agree"),
        coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
        coalesce(col("neigh_label") =!= col("label"), lit(false))
          .as("is_suspect"))
      .orderBy(col("vec_id"))
  }

  /** Cohen's κ between stored labels and IVF-cell majority labels — a
    * single agreement number for "do the labels cohere with embedding
    * geometry?": κ≈1 means cells are label-pure (labels and encoder
    * agree), κ≈0 means labels are random w.r.t. the embedding space
    * (wrong encoder, shuffled labels, or meaningless classes) — the
    * corpus-level companion to [[labelNoise]]'s per-vector triage, and
    * chance-corrected where raw accuracy is not (a 95%-majority-class
    * corpus scores 0.95 accuracy with a constant predictor; κ scores
    * it 0). Cell majority ties break (count desc, label asc) on both
    * engines; po/pe/κ are exact integer counts divided in ONE fixed
    * double-op order each — bit-exact. Degenerate single-label input
    * has pe = 1 and κ = NaN, the standard convention.
    *
    * Scale: the same broadcast-codebook argmin assignment as the IVF
    * family (shuffle moves n rows, map-side combined); everything after
    * is on #cells·#labels and #labels² frames. At corpus scale the
    * assignment reads the materialized [[writeIvfIndex]] layout instead
    * of recomputing — κ then costs one label-sized aggregation.
    */
  def clusterLabelKappa(spark: SparkSession, dir: String): DataFrame =
    clusterLabelKappaOn(Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v"), col("label")))

  /** [[clusterLabelKappa]] over any (vec_id, v: array<double>, label)
    * frame.
    */
  def clusterLabelKappaOn(emb: DataFrame): DataFrame = {
    val centroids = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val assigned = emb.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("label"),
        struct(l2sq(col("v"), col("cv")).as("dist"), col("cid")).as("cand"))
      .groupBy(col("vec_id"), col("label"))
      .agg(min(col("cand")).as("best"))
      .select(col("vec_id"), col("label"), col("best.cid").as("cid"))
      .cutLineage() // read by the vote aggregation AND the confusion join
    val votes = assigned.groupBy(col("cid"), col("label"))
      .agg(count(lit(1)).as("cnt"))
    // argmax by (cnt desc, label asc) without a window: min of the
    // (-cnt, label) struct — cells-sized frame, map-side combined
    val maj = votes.groupBy(col("cid"))
      .agg(min(struct((-col("cnt")).as("neg"), col("label").as("l")))
        .as("m"))
      .select(col("cid"), col("m.l").as("pred"))
    val conf = assigned.join(broadcast(maj), "cid")
      .groupBy(col("label"), col("pred")).agg(count(lit(1)).as("c"))
      .cutLineage() // labels²-sized; read by n, diag, and both margins
    val n = conf.agg(sum(col("c")).as("n_vectors"))
    val diag = conf.filter(col("label") === col("pred"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("agree"))
    val rowt = conf.groupBy(col("label")).agg(sum(col("c")).as("rowt"))
    val colt = conf.groupBy(col("pred")).agg(sum(col("c")).as("colt"))
    val prod = rowt.join(colt, col("label") === col("pred"))
      .agg(coalesce(sum(col("rowt") * col("colt")), lit(0L)).as("prod"))
    diag.crossJoin(n).crossJoin(prod)
      .withColumn("po", col("agree").cast("double") / col("n_vectors"))
      .withColumn("pe", col("prod").cast("double")
        / col("n_vectors") / col("n_vectors"))
      .withColumn("kappa",
        (col("po") - col("pe")) / (lit(1.0) - col("pe")))
      .select(col("n_vectors"), col("agree"), col("po"), col("pe"),
        col("kappa"))
  }

  /** Exact cosine top-k for the query vector (vec_id = queryId). */
  def cosineTopK(spark: SparkSession, dir: String, queryId: Long = 0,
      k: Int = 20): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") === queryId)
      .select(vecD(col("embedding")).as("qv"))
    emb.crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        cosine(vecD(col("embedding")), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Exact cosine top-k for EVERY query id in ONE corpus pass — the
    * batched gold-standard a multi-query retrieval eval needs. Looping
    * [[cosineTopK]] scans the corpus once PER query; here the n query
    * vectors broadcast, the codegen'd cosine kernel scores the n·corpus
    * fan-out in one narrow pass, and the per-query ranking collapses
    * map-side through the mergeable [[graft.functions.TopKPairs]]
    * aggregate — each task pre-reduces to ≤k entries per query, so only
    * n·k·#partitions entries cross the wire where a
    * `Window.partitionBy(query_id)` would co-locate each query's FULL
    * corpus of scored rows in one task, and a per-query
    * `orderBy().limit(k)` is one corpus job per query.
    *
    * Value contract (spec-pinned): per query id, (vec_id, cos, rank)
    * is exactly [[cosineTopK]]'s — same cosine expression on the same
    * operands (bit-identical doubles), and the aggregate's
    * (Double.compare DESC, id ASC) total order is the rank window's.
    */
  def cosineTopKMulti(spark: SparkSession, dir: String,
      queryIds: Seq[Long] = Seq(0L, 7L, 19L), k: Int = 20): DataFrame =
    cosineTopKMultiOn(Tables.embeddings(spark, dir), queryIds, k)

  /** Same, over any (vec_id, embedding) frame. */
  def cosineTopKMultiOn(emb: DataFrame, queryIds: Seq[Long],
      k: Int = 20): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    require(queryIds.nonEmpty, "query set must be non-empty")
    require(queryIds.distinct.size == queryIds.size,
      s"query ids must be unique (the per-query group key): $queryIds")
    val qs = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), vecD(col("embedding")).as("qv"))
    val tk = udaf(new graft.functions.TopKPairs(k),
      ExpressionEncoder[(Double, Long)]())
    emb.crossJoin(broadcast(qs))
      .select(col("query_id"), col("vec_id"),
        cosine(vecD(col("embedding")), col("qv")).as("cos"))
      .groupBy(col("query_id"))
      .agg(tk(col("cos"), col("vec_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col._2").as("vec_id"), col("col._1").as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF-bucketed approximate top-k: assign every vector to its nearest
    * centroid (min L2², ties to the lower centroid id), probe the
    * `nprobe` cells nearest the query, exact cosine within them.
    */
  def annIvfTopK(spark: SparkSession, dir: String, queryId: Long = 0,
      k: Int = 20, nprobe: Int = 4): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    val centroids = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"))

    // nearest-centroid assignment: one broadcast nested pass + partial-agg argmin
    val assigned = assignNearest(emb, centroids)

    val q = emb.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"))
    val probeCells = centroids.crossJoin(broadcast(q))
      .withColumn("dist", l2sq(col("cv"), col("qv")))
      .orderBy(col("dist"), col("cid"))
      .limit(nprobe)
      .select(col("cid"))

    assigned.join(broadcast(probeCells), "cid")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("cid"), cosine(col("v"), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Materialize the IVF index as a PHYSICAL LAYOUT: vectors written
    * partitioned by their nearest-centroid cell. This is the 100 TB form
    * of [[annIvfTopK]]'s in-memory assignment — the cell id becomes a
    * directory, so a probe of `nprobe` cells READS only those
    * directories and the other C−nprobe cells never leave disk.
    */
  def writeIvfIndex(spark: SparkSession, dir: String, path: String): Unit =
    writeIvfIndexOn(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), vecD(col("embedding")).as("v")),
      defaultCodebook(spark, dir), path)

  /** [[writeIvfIndex]] over any (vec_id, v) frame and codebook — also
    * writes the codebook SIDECAR (`<path>_codebook`), making the index
    * self-describing: append and probe read the frozen codebook from
    * the sidecar, and [[rebalanceIvfCells]] can evolve it (split hot
    * cells) without touching the embeddings table the index was built
    * from.
    */
  def writeIvfIndexOn(emb: DataFrame, codebook: DataFrame,
      path: String): Unit = {
    assignNearest(emb, codebook)
      .write.mode("overwrite").partitionBy("cid").parquet(path)
    codebook.select(col("cid"), col("cv"))
      .coalesce(1).write.mode("overwrite").parquet(codebookSidecar(path))
  }

  private def codebookSidecar(path: String): String =
    path.stripSuffix("/") + "_codebook"

  /** The naive first-C codebook every in-memory IVF query form uses
    * (deterministic, oracle-mirrorable).
    */
  private def defaultCodebook(spark: SparkSession, dir: String,
      c: Int = 16): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
      .filter(col("vec_id") < c)
      .select(col("vec_id").as("cid"), col("v").as("cv"))

  /** The index's frozen codebook: the sidecar when present (indexes
    * written by [[writeIvfIndexOn]], possibly evolved by
    * [[rebalanceIvfCells]]); the naive default otherwise (pre-sidecar
    * layouts — keeps every existing index readable).
    */
  private[operators] def loadIvfCodebook(spark: SparkSession, dir: String,
      path: String): DataFrame = {
    val sc = new org.apache.hadoop.fs.Path(codebookSidecar(path))
    val exists = try {
      sc.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(sc)
    } catch { case scala.util.control.NonFatal(_) => false }
    if (exists) spark.read.parquet(codebookSidecar(path))
      .select(col("cid"), col("cv"))
    else defaultCodebook(spark, dir)
  }

  /** Incrementally admit a batch of vectors into a materialized
    * [[writeIvfIndex]] layout: assign each new vector to its nearest
    * cell under the SAME frozen codebook and append to that cell's
    * directory — partition-scoped appends, no rewrite of existing rows,
    * no touch of unaffected cells. This is the steady-state index
    * lifecycle (the MinHash admission index's fuzzy-join twin): rebuild
    * only when codebook drift degrades cell balance, append otherwise.
    * Probe results after an append are identical to a full rebuild over
    * the union (spec-proved) because assignment is a pure function of
    * (vector, codebook).
    */
  def appendToIvfIndex(spark: SparkSession, dir: String, batch: DataFrame,
      path: String): Unit =
    assignNearest(batch, loadIvfCodebook(spark, dir, path))
      .write.mode("append").partitionBy("cid").parquet(path)

  /** Probe a materialized [[writeIvfIndex]] layout. The probe-cell list
    * joins the index on its PARTITION column with a broadcast build
    * side, so Spark's dynamic partition pruning turns the join into a
    * scan-time partition filter — the plan reads `nprobe` directories,
    * not the index (plan-proved in `IvfIndexSpec`). Results are
    * identical to the in-memory [[annIvfTopK]] by construction (same
    * codebook, same tie-breaks).
    */
  def annIvfFromIndex(spark: SparkSession, indexPath: String, dir: String,
      queryId: Long = 0, k: Int = 20, nprobe: Int = 4): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    val centroids = loadIvfCodebook(spark, dir, indexPath)
    val q = emb.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    val probeCells = centroids.crossJoin(broadcast(q))
      .withColumn("dist", l2sq(col("cv"), col("qv")))
      .orderBy(col("dist"), col("cid"))
      .limit(nprobe)
      // partition-directory columns read back as INT; align the key type
      .select(col("cid").cast("int").as("cid"))
    spark.read.parquet(indexPath)
      .join(broadcast(probeCells), "cid")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("cid").cast("long").as("cid"),
        cosine(col("v"), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** [[annIvfFromIndex]] for a QUERY SET in ONE plan — the serving
    * shape of a query BATCH against the stored layout: per-query probe
    * cells rank on a #cells·n frame (bounded window), the broadcast
    * probe join dynamic-partition-prunes the scan to the UNION of
    * probed cell directories (≤ n·nprobe, plan-proved), and the
    * per-query ranking collapses map-side through the mergeable
    * [[graft.functions.TopKPairs]] aggregate — where looping
    * [[annIvfFromIndex]] is one probe JOB per query, and a rank window
    * over the fanned candidates would co-locate each query's probe
    * mass in one task. Per query id the (vec_id, cos, rank) rows are
    * bit-identical to the single-query probe (same codebook, same
    * cosine operands, same total order — spec-pinned).
    */
  def annIvfFromIndexMulti(spark: SparkSession, indexPath: String,
      dir: String, queryIds: Seq[Long], k: Int = 20,
      nprobe: Int = 4): DataFrame = {
    require(queryIds.nonEmpty, "query set must be non-empty")
    require(queryIds.distinct.size == queryIds.size,
      s"query ids must be unique (the per-query group key): $queryIds")
    val qs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    ivfProbeQueries(spark, qs, loadIvfCodebook(spark, dir, indexPath),
      indexPath, k, nprobe)
  }

  /** Probe a stored IVF layout with an ARBITRARY batch of query
    * vectors — the serving shape of a streaming ingest gate or an
    * external query feed, where the queries are NOT rows of the
    * indexed table. The index must be self-describing (codebook
    * sidecar, [[writeIvfIndexOn]]): a gate assigning under a codebook
    * other than the one that laid the cells out would probe the wrong
    * directories. Same plan as [[annIvfFromIndexMulti]]: union-pruned
    * scan, map-side top-k, one job for the whole batch. `vec_id` is
    * the per-query group key, so it must be unique within the batch —
    * two vectors sharing an id would silently merge into one top-k
    * ranking. Not enforced by default (a distinct-count action per
    * streaming micro-batch costs more than it protects; the gates feed
    * unique ingest ids by construction), but settable for feeds
    * without that guarantee: `spark.graft.ivf.checkUniqueIds=true`
    * fails loudly on the first duplicated id (the check is a bounded
    * `take(1)` on the duplicated-id frame, not a full collect).
    */
  def ivfProbeBatchOn(spark: SparkSession, batch: DataFrame,
      indexPath: String, k: Int = 20, nprobe: Int = 4): DataFrame = {
    if (spark.conf.getOption("spark.graft.ivf.checkUniqueIds")
        .exists(_.toBoolean)) {
      val dup = batch.groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n")).filter(col("n") > 1).head(1)
      require(dup.isEmpty, "ivfProbeBatchOn: batch vec_id " +
        s"${dup.head.get(0)} appears ${dup.head.get(1)} times — " +
        "per-query rankings would silently merge; dedup ids upstream " +
        "or unset spark.graft.ivf.checkUniqueIds")
    }
    val sc = new org.apache.hadoop.fs.Path(codebookSidecar(indexPath))
    val exists = try {
      sc.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(sc)
    } catch { case scala.util.control.NonFatal(_) => false }
    require(exists, s"IVF index at $indexPath has no codebook sidecar " +
      "(write it with writeIvfIndexOn) — probing an arbitrary batch " +
      "needs the layout's own frozen codebook")
    ivfProbeQueries(spark,
      batch.select(col("vec_id").as("query_id"), col("v").as("qv")),
      spark.read.parquet(codebookSidecar(indexPath))
        .select(col("cid"), col("cv")),
      indexPath, k, nprobe)
  }

  /** Intra-batch SemDeDup under a STORED index's frozen codebook — the
    * companion pass an [[ivfProbeBatchOn]]-based admission gate needs:
    * the index probe judges each batch vector against the CORPUS, so
    * two novel near-duplicates arriving in the SAME micro-batch both
    * pass it (the index only refreshes between batches). This pass
    * assigns the batch to the layout's own cells (sidecar codebook —
    * same [[ivfProbeBatchOn]] requirement, same loud failure) and
    * keeps cell leaders (lowest vec_id) plus members below `minCos`
    * cosine to their leader — [[semDedupOn]]'s O(|cell|) leader rule,
    * never pairwise, so the per-batch cost is one broadcast argmin
    * plus one broadcast leader join. The blind spot matches the
    * index's own geometry: near-duplicates assigned to different
    * cells are missed exactly like an unprobed-cell corpus miss.
    * Returns the kept ids as a (vec_id) frame for a left-semi join.
    */
  def semDedupWithinBatch(spark: SparkSession, batch: DataFrame,
      indexPath: String, minCos: Double): DataFrame = {
    val sc = new org.apache.hadoop.fs.Path(codebookSidecar(indexPath))
    val exists = try {
      sc.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(sc)
    } catch { case scala.util.control.NonFatal(_) => false }
    require(exists, s"IVF index at $indexPath has no codebook sidecar " +
      "(write it with writeIvfIndexOn) — intra-batch dedup must bucket " +
      "under the layout's own frozen codebook")
    val cb = spark.read.parquet(codebookSidecar(indexPath))
      .select(col("cid"), col("cv"))
    val assigned = assignNearest(
      batch.select(col("vec_id"), col("v")), cb)
    val leaders = assigned.groupBy(col("cid"))
      .agg(min(struct(col("vec_id"), col("v"))).as("l"))
      .select(col("cid"), col("l.vec_id").as("leader_id"),
        col("l.v").as("lv"))
    assigned.join(broadcast(leaders), "cid")
      .filter(col("vec_id") === col("leader_id")
        // NULL (0/0) cosine keeps: an unjudgeable vector is not a dup
        || coalesce(nanvl(cosine(col("v"), col("lv")),
             lit(null).cast("double")) < minCos, lit(true)))
      .select(col("vec_id"))
  }

  /** The shared probing tail of [[annIvfFromIndexMulti]] and
    * [[ivfProbeBatchOn]]: per-query probe cells rank on the #cells·n
    * frame (bounded window), the broadcast probe join dynamic-
    * partition-prunes the scan to the union of probed directories
    * (≤ n·nprobe), and the per-query ranking collapses map-side
    * through the mergeable [[graft.functions.TopKPairs]] aggregate.
    */
  private def ivfProbeQueries(spark: SparkSession, qs: DataFrame,
      centroids: DataFrame, indexPath: String, k: Int,
      nprobe: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val probeCells = centroids.crossJoin(broadcast(qs))
      .select(col("query_id"), col("qv"), col("cid"),
        l2sq(col("cv"), col("qv")).as("dist"))
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("query_id")).orderBy(col("dist"), col("cid"))))
      .filter(col("rn") <= nprobe)
      // partition-directory columns read back as INT; align the key type
      .select(col("query_id"), col("qv"), col("cid").cast("int").as("cid"))
    val tk = udaf(new graft.functions.TopKPairs(k),
      ExpressionEncoder[(Double, Long)]())
    spark.read.parquet(indexPath)
      .join(broadcast(probeCells), "cid")
      .select(col("query_id"), col("vec_id"),
        cosine(col("v"), col("qv")).as("cos"))
      .groupBy(col("query_id"))
      .agg(tk(col("cos"), col("vec_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col._2").as("vec_id"), col("col._1").as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The uncut hot-cell read of [[rebalanceIvfCells]], exposed so the
    * spec can prove the partition pruning: the filter on the PARTITION
    * column reaches the scan as a static partition filter, so the
    * rebalance data path lists and reads ONLY the hot cells'
    * directories — cold cells never leave disk, which is what makes
    * rebalancing a bounded maintenance op instead of a rebuild.
    */
  private[operators] def hotCellRows(spark: SparkSession, path: String,
      hotCids: Seq[Long]): DataFrame =
    spark.read.parquet(path)
      .filter(col("cid").isin(hotCids: _*))
      .select(col("vec_id"), col("v"), col("cid").cast("long").as("cid"))

  /** Hot-cell remediation for a materialized [[writeIvfIndex]] layout —
    * the fix [[ivfCellStats]]' audit calls for. Cells holding more than
    * `hotFactor`× the uniform share are SPLIT in place under a
    * frozen-plus-delta codebook: cold centroids (and their
    * directories) are untouched; each hot centroid is replaced by two
    * children fitted to its own population. The steady-state lifecycle
    * is append ([[appendToIvfIndex]]) until the audit flags drift,
    * rebalance the flagged cells, never a full rebuild.
    *
    * Per hot cell, deterministically: seed A = the member farthest
    * from the cell centroid (ties to the smallest vec_id), seed B =
    * the member farthest from A; members side to the nearer seed
    * (ties to A); each child's centroid is the element-wise mean of
    * its side (DECIMAL(18,6) sums, one terminal division — identical
    * under any partitioning, the [[graft.functions.Stable]]
    * discipline). A degenerate cell (every member equidistant so side
    * B is empty — e.g. all-identical vectors) is left unsplit: a
    * split cannot help it. Child A keeps the parent's cell id, child
    * B takes max(cid)+1… — ids are append-only, so cold cells keep
    * both their ids AND their centroid vectors.
    *
    * Scale shape: the audit pass is a #cells aggregation over the
    * index (parquet count pushdown — no vector deserialization); the
    * data path reads ONLY hot directories (partition-filter
    * plan-proved via [[hotCellRows]]); seeds/means are per-cell
    * aggregations over hot members; the rewrite is a DYNAMIC partition
    * overwrite of exactly the hot + new directories (read-before-
    * overwrite cut per the [[graft.Materialize]] contract). Probes of
    * untouched cells are bit-identical before and after; probe recall
    * around a split cell is non-decreasing (both spec-pinned in
    * `IvfIndexSpec`).
    *
    * Returns the post-rebalance [[ivfCellStats]]-shaped audit
    * (cid, n_vectors, share, hot) over the evolved layout.
    */
  def rebalanceIvfCells(spark: SparkSession, dir: String, path: String,
      hotFactor: Double = 2.0): DataFrame = {
    val cb = loadIvfCodebook(spark, dir, path)
      .cutLineage(eager = true) // read for counts, seeds, and the rewrite
    val nCells = cb.count()
    val counts = spark.read.parquet(path)
      .groupBy(col("cid").cast("long").as("cid"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val total = counts.map(_._2).sum
    val hotCids = counts
      .filter { case (_, n) => n * nCells > hotFactor * total }
      .map(_._1).sorted.toSeq
    if (hotCids.nonEmpty) {
      val maxCid = cb.agg(max(col("cid"))).head().getLong(0)
      val newIdOf = hotCids.zipWithIndex
        .map { case (c, i) => (c, maxCid + 1 + i) }.toMap
      val members = hotCellRows(spark, path, hotCids)
        .join(cb, "cid")
        .cutForOverwrite() // derived from the dirs the rewrite replaces
      val (sided, childCb) = fitCellSplits(members)
      // a cell whose B side is empty is degenerate: leave it unsplit
      val splitCids = childCb.filter(col("side") === 1)
        .select(col("cid")).collect().map(_.getLong(0)).toSet
      if (splitCids.nonEmpty) {
        val newId = udfFreeNewId(newIdOf.filter(kv => splitCids(kv._1)))
        val rewritten = sided
          .filter(col("cid").isin(splitCids.toSeq: _*))
          .select(col("vec_id"), col("v"),
            when(col("side") === 0, col("cid"))
              .otherwise(newId(col("cid"))).as("cid"))
        val evolvedCb = cb
          .join(childCb.filter(col("side") === 0)
              .filter(col("cid").isin(splitCids.toSeq: _*))
              .select(col("cid"), col("cv").as("cva")),
            Seq("cid"), "left")
          .select(col("cid"), coalesce(col("cva"), col("cv")).as("cv"))
          .unionByName(childCb.filter(col("side") === 1)
            .filter(col("cid").isin(splitCids.toSeq: _*))
            .select(newId(col("cid")).as("cid"), col("cv")))
          .cutForOverwrite() // derived from the sidecar it replaces
        // sidecar FIRST: a failure between the two writes then leaves
        // an evolved codebook over an unsplit layout — child B is an
        // empty directory (a wasted probe slot), never an unreachable
        // populated one, and a rerun converges
        evolvedCb.select(col("cid"), col("cv"))
          .coalesce(1).write.mode("overwrite")
          .parquet(codebookSidecar(path))
        val prevMode = spark.conf
          .get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try rewritten.write.mode("overwrite").partitionBy("cid").parquet(path)
        finally spark.conf
          .set("spark.sql.sources.partitionOverwriteMode", prevMode)
      }
    }
    // post-rebalance audit over the evolved layout. n_cells is the
    // EVOLVED CODEBOOK row count — the same definition the split
    // decision above uses — not the non-empty data partition count:
    // after a sidecar-first crash (evolved codebook over an unsplit
    // layout, i.e. an empty child cell) the two counts diverge, and
    // the audit's `hot` flag must agree with what a rerun would decide.
    val nCellsPost = loadIvfCodebook(spark, dir, path).count()
    val cells = spark.read.parquet(path)
      .groupBy(col("cid").cast("long").as("cid"))
      .agg(count(lit(1)).as("n_vectors"))
    val tot = cells.agg(sum(col("n_vectors")).as("n_total"))
    cells.crossJoin(broadcast(tot))
      .select(col("cid"), col("n_vectors"),
        (col("n_vectors").cast("double") / col("n_total")).as("share"),
        (col("n_vectors").cast("double") * lit(nCellsPost)
          > lit(hotFactor) * col("n_total")).as("hot"))
      .orderBy(col("cid"))
  }

  /** Fit a two-child split for every cell present in `members`
    * (cid, vec_id, v, cv) — the shared splitter of
    * [[rebalanceIvfCells]] and [[rebalanceIvfPqCells]], so the two
    * index families evolve their codebooks by the SAME deterministic
    * rule. Per cell: seed A = the member farthest from the cell
    * centroid (ties to the smallest vec_id), seed B = the member
    * farthest from A; members side to the nearer seed (ties to A);
    * each child centroid is the element-wise DECIMAL(18,6) mean of its
    * side (identical under any partitioning). Returns
    * (sided(cid, vec_id, v, side), childCb(cid, side, cv)); a
    * degenerate cell shows no side-1 childCb row — callers leave it
    * unsplit.
    */
  private def fitCellSplits(members: DataFrame): (DataFrame, DataFrame) = {
    // seed A: farthest member from the cell centroid
    val seedA = members
      .groupBy(col("cid"))
      .agg(min(struct((-l2sq(col("v"), col("cv"))).as("nd"),
        col("vec_id"), col("v"))).as("a"))
      .select(col("cid"), col("a.v").as("av"))
    // seed B: farthest member from A
    val seedB = members.join(broadcast(seedA), "cid")
      .groupBy(col("cid"))
      .agg(min(struct((-l2sq(col("v"), col("av"))).as("nd"),
        col("vec_id"), col("v"))).as("b"))
      .select(col("cid"), col("b.v").as("bv"))
    val sided = members
      .join(broadcast(seedA), "cid").join(broadcast(seedB), "cid")
      .withColumn("side",
        when(l2sq(col("v"), col("av")) <= l2sq(col("v"), col("bv")), 0)
          .otherwise(1))
      .select(col("cid"), col("vec_id"), col("v"), col("side"))
    // child centroids: element-wise DECIMAL mean per (cell, side)
    val childCb = sided
      .select(col("cid"), col("side"), posexplode(col("v")))
      .groupBy(col("cid"), col("side"), col("pos"))
      .agg((sum(dec(col("col"))) / count(lit(1)))
        .cast("double").as("m"))
      .groupBy(col("cid"), col("side"))
      .agg(array_sort(collect_list(struct(col("pos"),
        col("m")))).getField("m").as("cv"))
    (sided, childCb)
  }

  /** Hot-cell remediation for a materialized [[writeIvfPqIndex]]
    * layout — [[rebalanceIvfCells]] for the coded index family. The
    * same frozen-plus-delta split ([[fitCellSplits]]) evolves the
    * coarse quantizer; the difference is what a split COSTS here: the
    * index stores residual CODES, not vectors, and a residual is
    * relative to the centroid of the cell the row is stored in — so
    * every member of a split cell must be RE-CODED against its child
    * centroid under the FROZEN PQ codebook (retraining the codebook is
    * the full-rebuild decision, explicitly out of scope for a
    * maintenance op; residuals of a tighter child concentrate closer
    * to 0, so the frozen codewords quantize them no worse).
    *
    * Scale shape: the audit is a #cells aggregation over the codes
    * table; hot member ids come from the flagged `cell=` directories
    * only (partition-pruned); their RAW vectors come from ONE
    * id-semi-joined pass over the embeddings table (bounded by hot
    * mass on the build side — the one corpus touch, unavoidable
    * because codes are lossy); the recode is hot-mass × m rows against
    * two broadcast frames; the rewrite is a dynamic partition
    * overwrite of exactly the hot + child `cell=` directories, coarse
    * quantizer written FIRST (the [[rebalanceIvfCells]] sidecar-first
    * ordering — a failure between the writes leaves child cells empty
    * but reachable, and a rerun converges). Cold cells keep their
    * bytes, ids, centroids, and codes (bit-identity spec-pinned in
    * `IvfIndexSpec`).
    *
    * Returns the post-rebalance per-cell audit
    * (cell, n_vectors, share, hot) over the evolved codes layout.
    */
  def rebalanceIvfPqCells(spark: SparkSession, dir: String, path: String,
      hotFactor: Double = 2.0, m: Int = 16, dim: Int = 64): DataFrame =
    rebalanceIvfPqCellsOn(spark,
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), vecD(col("embedding")).as("v")),
      path, hotFactor, m, dim)

  /** Same, against any (vec_id, v) corpus frame — the corpus the index
    * was built/appended from (codes are lossy, so the split must read
    * the raw vectors back; an indexed id the corpus can no longer
    * resolve fails LOUDLY rather than silently dropping rows from the
    * rewritten partitions).
    */
  def rebalanceIvfPqCellsOn(spark: SparkSession, corpus: DataFrame,
      path: String, hotFactor: Double = 2.0, m: Int = 16,
      dim: Int = 64): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val coarse = spark.read.parquet(path + "/coarse")
      .cutLineage(eager = true) // read for counts, the split, the rewrite
    val nCells = coarse.count()
    // codes carry m rows per vector; the audit counts vectors
    val counts = spark.read.parquet(path + "/codes")
      .groupBy(col("cell").cast("long").as("cell"))
      .agg((count(lit(1)) / m).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val total = counts.map(_._2).sum
    val hotCells = counts
      .filter { case (_, n) => n * nCells > hotFactor * total }
      .map(_._1).sorted.toSeq
    if (hotCells.nonEmpty) {
      val maxCid = coarse.agg(max(col("cid"))).head().getLong(0)
      val newIdOf = hotCells.zipWithIndex
        .map { case (c, i) => (c, maxCid + 1 + i) }.toMap
      // hot member ids from the flagged directories only; raw vectors
      // from the corpus by id semi-join (codes are lossy)
      val hotIds = spark.read.parquet(path + "/codes")
        .filter(col("cell").isin(hotCells: _*))
        .select(col("vec_id"), col("cell").cast("long").as("cid"))
        .distinct()
      val members = corpus
        .join(hotIds, "vec_id")
        .join(coarse.select(col("cid"), col("cv")), "cid")
        .select(col("cid"), col("vec_id"), col("v"), col("cv"))
        .cutForOverwrite() // derived from the dirs the rewrite replaces
      val nHot = hotIds.count()
      val nResolved = members.count()
      require(nResolved == nHot, s"IVF-PQ rebalance of $path: " +
        s"$nHot hot indexed ids but only $nResolved resolve to corpus " +
        "vectors — recoding would silently drop the difference")
      val (sided, childCb) = fitCellSplits(members)
      val splitCids = childCb.filter(col("side") === 1)
        .select(col("cid")).collect().map(_.getLong(0)).toSet
      if (splitCids.nonEmpty) {
        val newId = udfFreeNewId(newIdOf.filter(kv => splitCids(kv._1)))
        val evolvedCoarse = coarse
          .join(childCb.filter(col("side") === 0)
              .filter(col("cid").isin(splitCids.toSeq: _*))
              .select(col("cid"), col("cv").as("cva")),
            Seq("cid"), "left")
          .select(col("cid"), coalesce(col("cva"), col("cv")).as("cv"))
          .unionByName(childCb.filter(col("side") === 1)
            .filter(col("cid").isin(splitCids.toSeq: _*))
            .select(newId(col("cid")).as("cid"), col("cv")))
          .cutForOverwrite() // derived from the frame it replaces
        // coarse FIRST (the sidecar-first ordering)
        evolvedCoarse.coalesce(1)
          .write.mode("overwrite").parquet(path + "/coarse")
        // recode each split member against ITS side's child centroid
        // under the frozen PQ codebook
        val cbStored = spark.read.parquet(path + "/codebook")
        val assigned = sided
          .filter(col("cid").isin(splitCids.toSeq: _*))
          .join(broadcast(childCb
            .filter(col("cid").isin(splitCids.toSeq: _*))
            .select(col("cid"), col("side"), col("cv").as("childCv"))),
            Seq("cid", "side"))
          .select(col("vec_id"),
            when(col("side") === 0, col("cid"))
              .otherwise(newId(col("cid"))).as("cell"),
            zip_with(col("v"), col("childCv"), (a, b) => a - b).as("r"))
        val recoded = codeResiduals(subVectors(
          assigned.select(col("vec_id"), col("cell"), col("r").as("v")),
          m, dsub), cbStored)
        val prevMode = spark.conf
          .get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try recoded.write.mode("overwrite").partitionBy("cell")
          .parquet(path + "/codes")
        finally spark.conf
          .set("spark.sql.sources.partitionOverwriteMode", prevMode)
      }
    }
    // post-rebalance audit over the evolved codes layout. n_cells is
    // the EVOLVED coarse-quantizer row count — the split decision's
    // own definition — so the `hot` flag agrees with what a rerun
    // would decide even when a coarse-first crash left an empty child
    // cell (no codes directory for it yet).
    val nCellsPost = spark.read.parquet(path + "/coarse").count()
    val cells = spark.read.parquet(path + "/codes")
      .groupBy(col("cell").cast("long").as("cell"))
      .agg((count(lit(1)) / m).cast("long").as("n_vectors"))
    val tot = cells.agg(sum(col("n_vectors")).as("n_total"))
    cells.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vectors"),
        (col("n_vectors").cast("double") / col("n_total")).as("share"),
        (col("n_vectors").cast("double") * lit(nCellsPost)
          > lit(hotFactor) * col("n_total")).as("hot"))
      .orderBy(col("cell"))
  }

  /** Query form of the rebalance lifecycle (`q_ivf_rebalance`): build a
    * deterministically SKEWED index — every member of cell 3 cloned 3×
    * under fresh ids, the `IvfIndexSpec` fixture — rebalance it, and
    * report the post-rebalance [[ivfCellStats]]-shaped audit. The
    * natural table is balanced under the naive codebook (every
    * `q_ivf_health` row is cold), so exercising the split end-to-end
    * needs planted mass. Train-once/serve ([[graft.ArtifactMemo]]):
    * the skewed index is built and rebalanced at most once per
    * (session, dir); the on-disk artifact lives under
    * [[graft.Materialize.artifactDir]]'s replace-on-rebuild lifecycle.
    * Golden-pinned: the split's seed/mean steps have no SQL twin.
    */
  def ivfRebalanceReport(spark: SparkSession, dir: String): DataFrame =
    graft.ArtifactMemo.cached(spark, s"ivfreb:$dir") {
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), vecD(col("embedding")).as("v"))
      val centroids = defaultCodebook(spark, dir)
      val cell3 = assignNearest(emb, centroids)
        .filter(col("cid") === 3).select(col("vec_id"), col("v"))
      val clones = (1 to 3).map(i => cell3.select(
        (col("vec_id") + lit(i * 1000000L)).as("vec_id"), col("v")))
        .reduce(_.unionByName(_))
      // dir-qualified name: replace-on-rebuild must only reclaim THIS
      // dir's artifact (the memo key is per-dir — see artifactDir's doc)
      val path = graft.Materialize.artifactDir(spark, s"ivf_reb:$dir")
      writeIvfIndexOn(emb.unionByName(clones), centroids, path)
      rebalanceIvfCells(spark, dir, path).cutLineage(eager = true)
    }

  /** Cross-engine TWIN of [[ivfRebalanceReport]]: the identical planted
    * skew (cell-3 members cloned ×3 at vec_id + i·10⁶), hot-cell
    * decision, farthest-point seed split, child-id assignment, and
    * post-rebalance audit — expressed as ONE query over the raw
    * embeddings table, no stored layout. The split's SEEDS and SIDES
    * fully determine the audit (child centroids never feed back into
    * cell sizes), which is what makes the rebalance ALGORITHM
    * oracle-checkable even though the production path's DECIMAL child
    * means stay golden-pinned: seed A = farthest member from the cell
    * centroid (ties to smallest vec_id), seed B = farthest from A,
    * members side to the nearer seed (ties to A), child B of the r-th
    * hot cell (ascending cid, degenerate cells still consume their
    * slot) takes id maxCid + r. Twin ≡ production report is
    * spec-pinned, so the stored-layout lifecycle inherits the oracle's
    * witness.
    *
    * Scale shape: same candidate algebra as the production path — one
    * broadcast-C assignment pass, per-cell seed aggregations over hot
    * members only, no all-pairs anywhere; the one twin-only liberty is
    * the vec_id-keyed side join, which production avoids by rewriting
    * partitions in place.
    */
  def ivfRebalanceTwin(spark: SparkSession, dir: String,
      hotFactor: Double = 2.0): DataFrame = {
    val nat = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    val centroids = defaultCodebook(spark, dir)
      .cutLineage(eager = true) // read by both assignment passes + maxCid
    val cell3 = assignNearest(nat, centroids)
      .filter(col("cid") === 3).select(col("vec_id"), col("v"))
    val clones = cell3
      .select(col("vec_id"), col("v"),
        explode(sequence(lit(1), lit(3))).as("i"))
      .select((col("vec_id") + col("i") * lit(1000000L)).as("vec_id"),
        col("v"))
    val assigned = assignNearest(nat.unionByName(clones), centroids)
      .cutLineage() // read by counts, members, and the final audit
    val nCells = 16L
    val totalDf = assigned.agg(count(lit(1)).as("total"))
    val hot = assigned.groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(totalDf))
      .filter(col("n") * nCells > lit(hotFactor) * col("total"))
      .select(col("cid"),
        row_number().over(Window.orderBy(col("cid"))).as("hrk"))
    val members = assigned.join(broadcast(hot), "cid")
      .join(broadcast(centroids), "cid")
      .cutLineage() // read by seed A, seed B, and the side pass
    val seedA = members.groupBy(col("cid"))
      .agg(min(struct((-l2sq(col("v"), col("cv"))).as("nd"),
        col("vec_id"), col("v"))).as("a"))
      .select(col("cid"), col("a.v").as("av"))
    val seedB = members.join(broadcast(seedA), "cid")
      .groupBy(col("cid"))
      .agg(min(struct((-l2sq(col("v"), col("av"))).as("nd"),
        col("vec_id"), col("v"))).as("b"))
      .select(col("cid"), col("b.v").as("bv"))
    val sided = members
      .join(broadcast(seedA), "cid").join(broadcast(seedB), "cid")
      .select(col("vec_id"), col("cid"), col("hrk"),
        when(l2sq(col("v"), col("av")) <= l2sq(col("v"), col("bv")), 0)
          .otherwise(1).as("side"))
      .cutLineage() // read by the re-id pass and the post-cell count
    val maxCidDf = centroids.agg(max(col("cid")).as("mc"))
    val finalAssign = assigned
      .join(sided.select(col("vec_id"), col("side"), col("hrk")),
        Seq("vec_id"), "left")
      .crossJoin(broadcast(maxCidDf))
      .select(col("vec_id"),
        when(col("side") === 1, col("mc") + col("hrk"))
          .otherwise(col("cid")).as("cid"))
    val nPostDf = sided.filter(col("side") === 1)
      .select(col("cid")).distinct()
      .agg((count(lit(1)) + nCells).as("nc"))
    finalAssign.groupBy(col("cid")).agg(count(lit(1)).as("n_vectors"))
      .crossJoin(broadcast(totalDf)).crossJoin(broadcast(nPostDf))
      .select(col("cid"), col("n_vectors"),
        (col("n_vectors").cast("double") / col("total")).as("share"),
        (col("n_vectors").cast("double") * col("nc")
          > lit(hotFactor) * col("total")).as("hot"))
      .orderBy(col("cid"))
  }

  /** [[ivfRebalanceReport]] for the CODED index family
    * (`q_ivfpq_rebalance`): the same planted cell-3 ×4 skew, landed
    * through the shipped lifecycle — [[writeIvfPqIndex]]'s natural
    * layout, [[appendToIvfPqIndex]] admitting the clones (they code
    * into cell 3 under the frozen artifacts), then ONE
    * [[rebalanceIvfPqCellsOn]] round against the clone-extended
    * corpus. Golden-pinned like its IVF twin (split seeds/means and
    * residual recoding have no SQL form); deterministic end to end
    * (DECIMAL child means, argmin tie-breaks, exact integer audit).
    */
  def ivfPqRebalanceReport(spark: SparkSession, dir: String): DataFrame =
    graft.ArtifactMemo.cached(spark, s"ivfpqreb:$dir") {
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), vecD(col("embedding")).as("v"))
      val centroids = defaultCodebook(spark, dir)
      val cell3 = assignNearest(emb, centroids)
        .filter(col("cid") === 3).select(col("vec_id"), col("v"))
      val clones = (1 to 3).map(i => cell3.select(
        (col("vec_id") + lit(i * 1000000L)).as("vec_id"), col("v")))
        .reduce(_.unionByName(_))
      val path = graft.Materialize.artifactDir(spark, s"ivfpq_reb:$dir")
      writeIvfPqIndex(spark, dir, path)
      appendToIvfPqIndex(spark, clones, path)
      rebalanceIvfPqCellsOn(spark, emb.unionByName(clones), path)
        .cutLineage(eager = true)
    }

  /** A tiny broadcast-free id remap (old hot cid → new child-B cid) as
    * a literal CASE chain — #hot-cells entries, no UDF, codegen-able.
    */
  private def udfFreeNewId(m: Map[Long, Long]): org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    c => m.foldLeft(lit(null).cast("long")) { case (acc, (from, to)) =>
      when(c === from, lit(to)).otherwise(acc)
    }

  /** Recall@k curve of the IVF index against exact search — the
    * standard ANN quality metric, measured on-engine: for each probe
    * budget nprobe ∈ {1, 2, 4, 8}, how many of the TRUE cosine top-k
    * survive in the IVF top-k? This is the artifact that justifies (or
    * indicts) an index configuration before a corpus commits to it; a
    * recall cliff between nprobe 2 and 4 is an unbalanced codebook.
    *
    * Exactness: overlap counts are integers and recall is ONE division
    * — fully oracle-checkable because the IVF path reuses the exact
    * assignment/tie-break conventions of [[annIvfTopK]]. Scale shape:
    * the ranked-cell frame is codebook-sized and broadcast; each probe
    * budget is its own candidate-filtered TakeOrdered top-k (bounded
    * frames, never a per-budget hot window partition); the exact list
    * is one brute-force TakeOrdered — the recall harness is allowed
    * one exact pass by definition, that is what it measures against.
    */
  def annRecallAtK(spark: SparkSession, dir: String, queryId: Long = 0,
      k: Int = 20, nprobes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    val centroids = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    recallCurve(emb, centroids, queryId, k, nprobes)
  }

  /** [[annRecallAtK]] for the LEARNED codebook ([[kmeansCodebook]],
    * 16 cells × 3 Lloyd iterations) — closes the eval gap where the
    * k-means probe itself (`q_ann_kmeans`) is golden-only: the recall
    * metric is integer overlap counts plus one division, and every
    * decision on the way (decimal means, argmin tie-breaks, cosine
    * ranking) is the same IEEE/decimal op chain in both engines, so
    * the whole curve is oracle-hash-checked even though the float
    * codebook itself never could be (the twin unrolls the 3 Lloyd
    * iterations as SQL CTEs).
    */
  def kmeansRecallAtK(spark: SparkSession, dir: String,
      queryId: Long = 0, k: Int = 20,
      nprobes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    recallCurve(emb, kmeansCodebook(emb), queryId, k, nprobes)
  }

  /** The shared recall-curve tail of [[annRecallAtK]] and
    * [[kmeansRecallAtK]]: rank all cells by query distance, assign the
    * corpus once, then per probe budget take the candidate-filtered
    * top-k and count its overlap with the exact top-k.
    */
  private def recallCurve(emb: DataFrame, centroids: DataFrame,
      queryId: Long, k: Int, nprobes: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import emb.sparkSession.implicits._
    val q = emb.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    // every cell ranked by distance to the query (codebook-sized)
    val rankedCells = centroids.crossJoin(broadcast(q))
      .withColumn("dist", l2sq(col("cv"), col("qv")))
      .select(col("cid"), row_number().over(Window
        .orderBy(col("dist"), col("cid"))).as("crank"))
    val assigned = assignNearest(emb, centroids)
      .join(broadcast(rankedCells), "cid")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("crank"),
        cosine(col("v"), col("qv")).as("cos"))
    val exact = emb.crossJoin(broadcast(q))
      .select(col("vec_id"), cosine(col("v"), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(k)
      .select(col("vec_id"))
    // ONE corpus pass serves every probe budget (the [[annRecallMulti]]
    // batching applied to the budget axis): each scored row fans out to
    // the budgets whose prefix admits its cell rank (< |nprobes|× rows,
    // and most rows sit in deep cells and fan out once), and the
    // mergeable [[graft.functions.TopKPairs]] collapses each budget's
    // candidates to ≤ k entries map-side — bit-identical to the rank
    // ordering of the per-budget `orderBy(cos DESC, vec_id).limit(k)`
    // jobs this replaces (|nprobes| reads of the scored frame + one
    // TakeOrdered job per budget become one aggregation).
    val tk = udaf(new graft.functions.TopKPairs(k),
      ExpressionEncoder[(Double, Long)]())
    val budgets = array(nprobes.map(lit(_)): _*)
    val ov = assigned
      .select(explode(filter(budgets, np => np >= col("crank")))
        .as("nprobe"), col("vec_id"), col("cos"))
      .groupBy(col("nprobe"))
      .agg(tk(col("cos"), col("vec_id")).as("top"))
      .select(col("nprobe"), explode(col("top")).as("c"))
      .select(col("nprobe"), col("c._2").as("vec_id"))
      .join(exact, "vec_id") // overlap with the true top-k
      .groupBy(col("nprobe")).agg(count(lit(1)).as("n_overlap"))
    // left join from the budget spine: zero overlap (or an empty cell
    // prefix) is a legitimate curve point, not a vanished budget
    nprobes.toDF("nprobe")
      .join(broadcast(ov), Seq("nprobe"), "left")
      .select(col("nprobe"), lit(k).as("k"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)).cast("double")
          / lit(k.toDouble)).as("recall"))
      .orderBy(col("nprobe"))
  }

  /** Multi-query recall@k curve of the IVF probe vs exact search — the
    * index sign-off a production deployment actually runs: recall per
    * (probe budget, query) over a SAMPLE of queries, because one
    * query's curve ([[annRecallAtK]]) can sit in a lucky cell and
    * misreport the index. Integer overlap counts + one division per
    * row keep the whole surface oracle-hash-checked; the twin stamps
    * one q_ann_recall CTE chain per sampled id (the q_retrieval_multi
    * pattern).
    *
    * Scale shape (the reason this is not "annRecallAtK in a loop"):
    * the exact gold for ALL queries is ONE corpus pass through the
    * mergeable [[graft.functions.TopKPairs]] aggregate
    * ([[cosineTopKMultiOn]], shared conventions with its proven twin);
    * the corpus is cell-assigned ONCE; candidates join a broadcast
    * 16·n_q per-query cell ranking; each probe budget is one
    * map-side-collapsed per-query top-k over the shared scored frame —
    * corpus passes stay n_q-independent where they can be, per-query
    * frames are ≤ n_q·k rows.
    */
  def annRecallMulti(spark: SparkSession, dir: String,
      queryIds: Seq[Long] = Seq(0L, 7L, 19L), k: Int = 20,
      nprobes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    require(queryIds.nonEmpty, "query sample must be non-empty")
    require(queryIds.distinct.size == queryIds.size,
      s"query ids must be unique (the per-query group key): $queryIds")
    val embRaw = Tables.embeddings(spark, dir)
    val emb = embRaw.select(col("vec_id"), vecD(col("embedding")).as("v"))
    val centroids = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val qs = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .cutLineage(eager = true) // read by cell ranking, scoring, spine
    // loud-failure contract (matches int8TopKOn/annIvfInt8TopK): an id
    // absent from the table must fail the eval, not silently shrink the
    // report — qs is eagerly materialized, so this count is a cached read
    val present = qs.select(col("query_id"))
      .collect().map(_.getLong(0)).toSet
    require(present.size == queryIds.size,
      s"query ids absent from the embeddings table: " +
        s"${queryIds.filterNot(present)}")
    // exact gold for every query in one batched corpus pass
    val gold = cosineTopKMultiOn(embRaw, queryIds, k)
      .select(col("query_id"), col("vec_id"))
      .cutLineage() // read once per probe budget
    val cellRank = centroids.crossJoin(broadcast(qs))
      .select(col("query_id"), col("cid"),
        row_number().over(Window.partitionBy(col("query_id"))
          .orderBy(l2sq(col("cv"), col("qv")), col("cid"))).as("crank"))
      .filter(col("crank") <= nprobes.max)
    val scored = assignNearest(emb, centroids)
      .join(broadcast(cellRank), "cid")
      .join(broadcast(qs), "query_id")
      .select(col("query_id"), col("crank"), col("vec_id"),
        cosine(col("v"), col("qv")).as("cos"))
    val tk = udaf(new graft.functions.TopKPairs(k),
      ExpressionEncoder[(Double, Long)]())
    // ONE pass over the scored candidates serves every probe budget:
    // each row fans out to the budgets whose prefix admits its cell
    // rank and the mergeable top-k collapses each (budget, query)
    // group map-side — |nprobes| reads of a corpus-sized frame (one
    // filtered aggregation job per budget) become one aggregation,
    // bit-identically (prefix-nested budgets share the same ordering).
    val budgets = array(nprobes.map(lit(_)): _*)
    val ov = scored
      .select(explode(filter(budgets, np => np >= col("crank")))
        .as("nprobe"), col("query_id"), col("vec_id"), col("cos"))
      .groupBy(col("nprobe"), col("query_id"))
      .agg(tk(col("cos"), col("vec_id")).as("top"))
      .select(col("nprobe"), col("query_id"), explode(col("top")).as("c"))
      .select(col("nprobe"), col("query_id"), col("c._2").as("vec_id"))
      .join(gold, Seq("query_id", "vec_id"))
      .groupBy(col("nprobe"), col("query_id"))
      .agg(count(lit(1)).as("n_overlap"))
    // left join from the (budget × query) spine: zero overlap at a
    // tight budget is a legitimate row, not a vanished query
    import scored.sparkSession.implicits._
    nprobes.toDF("nprobe")
      .crossJoin(broadcast(qs.select(col("query_id"))))
      .join(broadcast(ov), Seq("nprobe", "query_id"), "left")
      .select(col("nprobe"), col("query_id"), lit(k).as("k"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)).cast("double")
          / lit(k.toDouble)).as("recall"))
      .orderBy(col("nprobe"), col("query_id"))
  }

  /** IVF index-health report: per-cell population and share under the
    * shipped codebook — the balance audit that decides when
    * [[writeIvfIndex]]'s layout needs a rebuild (a hot cell means every
    * probe that touches it scans a disproportionate slice; a recall
    * cliff in [[annRecallAtK]] between adjacent budgets usually traces
    * to exactly this). `hot` flags cells above 2× the uniform share
    * (the 0.125 threshold is dyadic — exact in both engines). One
    * broadcast-argmin assignment pass + a #cells-sized aggregation;
    * at corpus scale the assignment reads the materialized index
    * layout's partition sizes instead of recomputing.
    */
  def ivfCellStats(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    val centroids = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val cells = assignNearest(emb, centroids)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_vectors"))
    val tot = cells.agg(sum(col("n_vectors")).as("n_total"))
    cells.crossJoin(broadcast(tot))
      .select(col("cid"), col("n_vectors"),
        (col("n_vectors").cast("double") / col("n_total")).as("share"))
      .withColumn("hot", col("share") > lit(0.125))
      .orderBy(col("cid"))
  }

  /** Embedding hygiene audit, per label: vector counts, the dimension
    * range (a mixed-dimension table breaks every distance kernel
    * downstream — this row catches a bad ingest before ANN does),
    * zero/near-zero-norm counts (un-normalizable vectors that turn
    * cosine into 0/0), and the exact norm² extremes. The QA pass a
    * vector pipeline runs on every snapshot before index rebuilds.
    *
    * Exactness: norm² is the codegen'd `vec_dot(v, v)` kernel —
    * index-order summation mirrored by the twin's `list_sum` (the
    * established cosine idiom) — and the report takes only counts and
    * min/max of those exact doubles (no mean: averaging computed
    * doubles is the one cross-engine trap this file avoids on
    * principle). One narrow scan, label-sized output.
    */
  def vectorAudit(spark: SparkSession, dir: String,
      tiny: Double = 1e-6): DataFrame =
    vectorAuditOn(Tables.embeddings(spark, dir), tiny)

  /** [[vectorAudit]] over any (label, embedding) frame. */
  def vectorAuditOn(emb: DataFrame, tiny: Double = 1e-6): DataFrame =
    emb
      .select(col("label"), size(col("embedding")).as("n_dims"),
        dot(vecD(col("embedding")), vecD(col("embedding"))).as("norm2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("n_dims")).as("dim_min"), max(col("n_dims")).as("dim_max"),
        sum(when(col("norm2") === 0.0, 1L).otherwise(0L)).as("n_zero"),
        sum(when(col("norm2") < tiny, 1L).otherwise(0L)).as("n_tiny"),
        min(col("norm2")).as("min_norm2"), max(col("norm2")).as("max_norm2"))
      .orderBy(col("label"))

  /** Greedy k-center coreset selection (Gonzalez 1985's farthest-point
    * traversal, the 2-approximation to the k-center cover): start from
    * vec_id 0, then k−1 times add the vector FARTHEST (max min-L2²,
    * ties to the lower vec_id) from the set selected so far — the
    * diversity-maximizing subset a data-selection pass uses to seed
    * codebooks, pick annotation batches, or cap a corpus while keeping
    * its spread. Output: (rank, vec_id, d2) where d2 is the selected
    * point's distance² to the prior set — rank r's d2 is the covering
    * radius after r−1 centers, non-increasing by construction
    * (spec-pinned).
    *
    * Shape: the min-distance state is maintained INCREMENTALLY — each
    * round is one narrow `least(d2, l2sq(v, newCenter))` map (the new
    * center rides in as a broadcast literal) plus a TakeOrdered(1)
    * reduce; the corpus is never re-scanned against the whole growing
    * set. The state is MATERIALIZED each round ([[graft.Materialize]]
    * cut, previous round's blocks released once the new cut lands), so
    * the incremental claim holds in EXECUTION, not just in the
    * expression: without the cut, round r's TakeOrdered would replay
    * all r prior `l2sq` kernels from lineage — O(k²·n·d) total and a
    * k-deep expression tree — where the cut keeps it O(k·n·d) with a
    * flat plan at any coreset budget (round cost stays ~linear in k).
    * The only collects are the k selected rows
    * themselves — a k-row driver artifact, same bounded-artifact
    * discipline as PCA's covariance.
    * Exactness: every d2 is the same chain of IEEE subtract/multiply/
    * add/min both engines run (the twin recomputes min-to-set fresh
    * each round; min is the same value either way), so the selection —
    * and therefore the whole output — is oracle-exact.
    */
  def kCenterCoreset(spark: SparkSession, dir: String,
      k: Int = 8): DataFrame =
    kCenterCoresetOn(Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v")), k)

  /** [[kCenterCoreset]] over any (vec_id, v: array<double>) frame. */
  def kCenterCoresetOn(embIn: DataFrame, k: Int): DataFrame = {
    val spark = embIn.sparkSession
    import spark.implicits._
    val emb = embIn.cutLineage() // k TakeOrdered actions read it
    require(k >= 1, s"k-center needs k >= 1, got $k")
    val total = emb.count()
    require(total >= k,
      s"k-center needs at least k vectors: k=$k, frame has $total")
    val seedRows = emb.filter(col("vec_id") === 0).select(col("v")).collect()
    require(seedRows.nonEmpty,
      "k-center seeds from vec_id 0, which is absent from this frame")
    val seed = seedRows(0).getSeq[Double](0)
    var picked = List((1L, 0L, 0.0))
    var ids: Seq[Long] = Seq(0L)
    var state = emb.withColumn("d2", l2sq(col("v"), typedlit(seed)))
    // per-round eager cut: the new cut's blocks carry the updated d2,
    // so the PREVIOUS round's blocks are dead the moment it lands —
    // release them to keep the resident footprint at ~one state frame
    var prevCut: Option[org.apache.spark.sql.DataFrame] = None
    var r = 2
    while (r <= k) {
      val cut = state.cutLineage(eager = true)
      prevCut.foreach(graft.Materialize.release)
      prevCut = Some(cut)
      val top = cut.filter(not(col("vec_id").isInCollection(ids)))
        .orderBy(col("d2").desc, col("vec_id"))
        .limit(1).select(col("vec_id"), col("d2"), col("v"))
        .collect()(0)
      picked ::= (r.toLong, top.getLong(0), top.getDouble(1))
      ids = ids :+ top.getLong(0)
      state = cut.withColumn("d2",
        least(col("d2"), l2sq(col("v"), typedlit(top.getSeq[Double](2)))))
      r += 1
    }
    prevCut.foreach(graft.Materialize.release)
    graft.Materialize.release(emb)
    picked.reverse.toDF("rank", "vec_id", "d2").orderBy(col("rank"))
  }

  /** Over-sampled k-center (the k-means‖ initialization idea, Bahmani
    * et al. 2012, applied to Gonzalez's farthest-point objective):
    * instead of [[kCenterCoresetOn]]'s k sequential driver rounds — k
    * Spark jobs of pure latency at large k — run a FIXED small number
    * of rounds, each sampling ~`oversample`·k candidates
    * proportionally to their current d²(x, C) (the k-means‖ sampling
    * rule), then finish with driver-side Gonzalez over the bounded
    * candidate set. Total Spark rounds drop from k to `rounds`
    * (sub-linear in k; SCALING.md records the measured ratio) at
    * the price of an approximation the covering-radius spec bounds
    * against the sequential traversal.
    *
    * Determinism (goldenable, no RNG): the Bernoulli draw u < p uses
    * the md5-prefix unit hash of (vec_id, round) — the [[graft
    * .operators.Sampling.hashSample]] primitive — so the same corpus
    * always samples the same candidates. Per round the admitted set is
    * additionally capped at the 4·l farthest (deterministic order-by)
    * so a pathological distance distribution cannot turn the driver
    * collect unbounded; the cap keeps the farthest points, which is
    * what the objective wants anyway.
    *
    * Scale shape: each round is one narrow filter + one broadcast
    * min-update against the ≤4·l new centers (the [[assignNearest]]
    * argmin shape — map-side combinable, the shuffle moves n rows
    * never the fan-out); state is cut per round and the prior cut
    * released, exactly the sequential operator's residency discipline.
    * Driver memory holds only the candidate set (≤ rounds·4·l rows).
    */
  def kCenterOversampled(spark: SparkSession, dir: String, k: Int = 8,
      rounds: Int = 3, oversample: Double = 2.0): DataFrame =
    kCenterOversampledOn(Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v")),
      k, rounds, oversample)

  /** Cross-engine TWIN of [[kCenterOversampled]]: the identical
    * algorithm with the ONE nondeterministic-across-engines step — the
    * float Σd² each round's Bernoulli threshold divides by — replaced
    * by the order-stable fold (Spark `aggregate` over
    * `array_sort(collect_list(...))` ≡ DuckDB
    * `list_sum(list(d2 ORDER BY vec_id))`, the adcOrderedSum law). The
    * md5-prefix unit hash, the p = l·d²/Σd² draw, the 4l farthest cap,
    * the per-round min-updates, and the driver Gonzalez tail are
    * already exact given Σd², so this key puts the ENTIRE oversampled
    * k-center++ pipeline under the DuckDB hash gate; the production
    * `q_kcenter_fast` keeps the partial-aggregated sum (order-free on
    * a cluster) and its golden.
    */
  def kCenterOversampledTwin(spark: SparkSession, dir: String, k: Int = 8,
      rounds: Int = 3, oversample: Double = 2.0): DataFrame =
    kCenterOversampledOn(Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v")),
      k, rounds, oversample, orderedSum = true)

  /** [[kCenterOversampled]] over any (vec_id, v: array<double>) frame.
    * `orderedSum = true` is the twin's Σd² discipline (see
    * [[kCenterOversampledTwin]]); the default keeps the
    * map-side-combinable sum the cluster path wants.
    */
  def kCenterOversampledOn(embIn: DataFrame, k: Int, rounds: Int = 3,
      oversample: Double = 2.0, orderedSum: Boolean = false): DataFrame = {
    val spark = embIn.sparkSession
    import spark.implicits._
    require(k >= 1, s"k-center needs k >= 1, got $k")
    require(rounds >= 1 && oversample > 0,
      s"need rounds >= 1 and oversample > 0, got $rounds/$oversample")
    val emb = embIn.cutLineage()
    val total = emb.count()
    require(total >= k,
      s"k-center needs at least k vectors: k=$k, frame has $total")
    val seedRows = emb.filter(col("vec_id") === 0).select(col("v")).collect()
    require(seedRows.nonEmpty,
      "k-center seeds from vec_id 0, which is absent from this frame")
    val seed = seedRows(0).getSeq[Double](0)
    val l = math.ceil(oversample * k).toLong
    var cands = Vector((0L, seed))
    var state = emb.withColumn("d2", l2sq(col("v"), typedlit(seed)))
    var prevCut: Option[DataFrame] = None
    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      val cut = state.cutLineage(eager = true)
      prevCut.foreach(graft.Materialize.release)
      prevCut = Some(cut)
      val sumRow =
        if (orderedSum)
          // ordered_sum kernel ≡ the interpreted aggregate-lambda fold
          // (PropertySpec); same left-to-right IEEE sum in vec_id order
          cut.agg(expr(
            "ordered_sum(array_sort(collect_list(struct(vec_id, d2))).d2)"))
            .head()
        else cut.agg(sum(col("d2"))).head()
      val sumd2 = if (sumRow.isNullAt(0)) 0.0 else sumRow.getDouble(0)
      if (sumd2 <= 0) exhausted = true // every vector already covered
      else {
        // deterministic Bernoulli (md5-prefix unit hash, keyed by round)
        // at p = l*d2/Σd2, candidates capped at the 4l FARTHEST
        val u = conv(substring(md5(concat_ws(":",
          col("vec_id").cast("string"), lit(r.toString)).cast("binary")),
          1, 8), 16, 10).cast("long").cast("double") / 4294967296.0
        val newC = cut
          .filter(u < lit(l.toDouble) * col("d2") / lit(sumd2))
          .orderBy(col("d2").desc, col("vec_id"))
          .limit(4 * l.toInt)
          .select(col("vec_id"), col("v"))
          .collect().map(row => (row.getLong(0), row.getSeq[Double](1)))
        if (newC.isEmpty) exhausted = true
        else {
          cands ++= newC
          // min-update carries ONLY (vec_id, dn) through the fan-out —
          // the v arrays stay in the cut and join back by id; hauling v
          // inside the min(struct) would copy the vector once per
          // (row × new center) and dominate the round
          val ncDf = newC.toSeq.toDF("cid", "cv")
          val dnMin = cut.crossJoin(broadcast(ncDf))
            .select(col("vec_id"), l2sq(col("v"), col("cv")).as("dn"))
            .groupBy(col("vec_id")).agg(min(col("dn")).as("dn"))
          state = cut.join(dnMin, "vec_id")
            .select(col("vec_id"), col("v"),
              least(col("d2"), col("dn")).as("d2"))
        }
      }
      r += 1
    }
    prevCut.foreach(graft.Materialize.release)
    graft.Materialize.release(emb)
    // dedup candidate ids (a round can re-draw an earlier candidate at
    // d2 > 0 only before its own round's min-update; ids stay unique)
    val uniq = cands.groupBy(_._1).map(_._2.head).toVector.sortBy(_._1)
    require(uniq.size >= k, s"oversampling produced ${uniq.size} < k=$k " +
      "candidates — raise rounds or oversample for this corpus")
    // driver-side Gonzalez over the bounded candidate set: same seed,
    // same farthest-point/lowest-id rule as the sequential operator
    def d2(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val byId = uniq.toMap
    val ids = scala.collection.mutable.Set(0L)
    val minD2 = scala.collection.mutable.Map[Long, Double](
      uniq.map { case (id, v) => id -> d2(v, seed) }: _*)
    var picked = List((1L, 0L, 0.0))
    for (rank <- 2 to k) {
      val (fid, fd2) = minD2.iterator
        .filter { case (id, _) => !ids.contains(id) }
        .minBy { case (id, d) => (-d, id) }
      picked ::= (rank.toLong, fid, fd2)
      ids += fid
      val fv = byId(fid)
      uniq.foreach { case (id, v) =>
        val nd = d2(v, fv)
        if (nd < minD2(id)) minD2(id) = nd
      }
    }
    picked.reverse.toDF("rank", "vec_id", "d2").orderBy(col("rank"))
  }

  /** Distributed Lloyd's k-means over embedding vectors, entirely in
    * DataFrame ops — no collect, no MLlib dependency. Seeded with the
    * first `k` vec_ids (deterministic); each iteration is one broadcast
    * assignment pass plus an element-wise mean rebuilt from a
    * (cell, dimension) aggregation. Means run on the exact-decimal path
    * so the codebook is bit-stable across partitionings and retries.
    * At 100 TB: iterations are linear scans with broadcast centroids —
    * the standard scalable shape; `iters` is small because IVF only needs
    * a reasonable partition of the space, not convergence.
    */
  def kmeansCodebook(emb: DataFrame, k: Int = 16, iters: Int = 3): DataFrame = {
    var centroids = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    for (_ <- 0 until iters) {
      val assigned = assignNearest(emb, centroids)
      centroids = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg((dsum(col("x")) / count(lit(1))).as("m"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
          .getField("m").as("cv"))
        // materialize the k-row frame each round: truncates the
        // crossJoin+window lineage so iteration i+1 (and every downstream
        // reference to the codebook) doesn't re-run iterations 1..i
        .cutLineage(eager = true)
    }
    centroids
  }

  /** IVF top-k over a k-means codebook — [[annIvfTopK]] with learned
    * cells instead of the first-16 stand-in. Same probe shape; better
    * cell balance on clustered corpora, hence better recall per probe.
    */
  def annKmeansTopK(spark: SparkSession, dir: String, queryId: Long = 0,
      k: Int = 20, nprobe: Int = 4): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    // train-once/serve: the codebook is the stored artifact — a serving
    // query re-running Lloyd's per call is the tokenizer-retraining
    // anti-pattern ([[graft.ArtifactMemo]]); kCb centroid rows retained.
    // Key derives from the ACTUAL training arguments so a parameter
    // change can never serve a codebook trained under different ones.
    val (kCb, itersCb) = (16, 3)
    val centroids = graft.ArtifactMemo.cached(spark,
      s"kmeans-cb:$kCb:$itersCb:$dir")(kmeansCodebook(emb, kCb, itersCb))
    val q = emb.filter(col("vec_id") === queryId).select(col("v").as("qv"))

    val assigned = assignNearest(emb, centroids)

    val probeCells = centroids.crossJoin(broadcast(q))
      .withColumn("dist", l2sq(col("cv"), col("qv")))
      .orderBy(col("dist"), col("cid"))
      .limit(nprobe)
      .select(col("cid"))

    assigned.join(broadcast(probeCells), "cid")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("cid"), cosine(col("v"), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Per-vector subvector rows (…, sub, sv): the `v` column split into
    * `m` contiguous `dsub`-dim slices — the unit product quantization
    * trains and codes on; every other column (vec_id, a cell id, …)
    * rides through, so the one definition serves plain PQ, the IVF-PQ
    * per-cell paths, and the query side. Narrow explode; m·n rows.
    */
  private[graft] def subVectors(emb: DataFrame, m: Int, dsub: Int): DataFrame = {
    val keep = emb.columns.filter(_ != "v").map(col).toSeq
    emb.select(keep :+ explode(transform(
      sequence(lit(0), lit(m - 1)),
      s => struct(s.as("sub"),
        slice(col("v"), s * dsub + 1, lit(dsub)).as("sv")))).as("u"): _*)
      .select(keep :+ col("u.sub") :+ col("u.sv"): _*)
  }

  /** Nearest-centroid assignment per (vector, subspace) against a
    * broadcast (sub, cid, cv) codebook — [[assignNearest]] generalized to
    * run EVERY subspace's assignment in one frame: the equi-join on `sub`
    * fans each subvector out to its own ksub candidates only, and the
    * map-side `min(struct)` argmin collapses the fan-out before the
    * exchange (the shuffle carries m·n rows, never m·n·ksub).
    */
  private[graft] def pqAssign(subs: DataFrame, cb: DataFrame): DataFrame =
    subs.join(broadcast(cb), "sub")
      .select(col("vec_id"), col("sub"),
        struct(l2sq(col("sv"), col("cv")).as("dist"), col("cid"),
          col("sv")).as("cand"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(col("cand")).as("best"))
      .select(col("vec_id"), col("sub"), col("best.cid").as("cid"),
        col("best.sv").as("sv"))

  /** Joint per-subspace Lloyd's: one distributed iteration trains ALL
    * `m` subspace codebooks together — assignment is [[pqAssign]], the
    * recompute is one (sub, cid, pos) decimal-mean aggregation. Seeded
    * like [[kmeansCodebook]] with the first-ksub vectors' subvectors.
    */
  def pqCodebook(subs: DataFrame, ksub: Int = 16, iters: Int = 2,
      seedFrom: Long = 0L): DataFrame = {
    // seedFrom matters when training on RESIDUALS: the coarse
    // centroids' own residuals are all-zero, so seeding from them
    // collapses every subspace codebook to one effective centroid —
    // IVF-PQ seeds past the coarse-centroid id range instead
    var cb = subs
      .filter(col("vec_id") >= seedFrom && col("vec_id") < seedFrom + ksub)
      .select(col("sub"), (col("vec_id") - seedFrom).as("cid"),
        col("sv").as("cv"))
    for (_ <- 0 until iters) {
      cb = pqAssign(subs, cb)
        .select(col("sub"), col("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("cid"), col("pos"))
        .agg((dsum(col("x")) / count(lit(1))).as("mu"))
        .groupBy(col("sub"), col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mu"))))
          .getField("mu").as("cv"))
        .cutLineage(eager = true)
    }
    cb
  }

  /** The stored PQ artifact: (vec_id, codes) with codes(sub) = the
    * subspace-`sub` centroid id — m small ints replacing dims doubles
    * (64-dim float64 → 8 codes ≈ 64× smaller), the representation that
    * serves billion-vector corpora from memory.
    */
  def pqCodes(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("sub"), col("cid"))))
        .getField("cid").as("codes"))

  /** Product-quantization ANN (Jégou et al. 2011, "Product Quantization
    * for Nearest Neighbor Search") by asymmetric distance computation:
    * the query builds the exact m·ksub subspace-distance lookup table,
    * and every corpus vector's approximate L2² is the SUM of the m table
    * entries its codes select — the corpus scan does code→table lookups
    * only, no vector arithmetic. Here the lookup is a broadcast hash
    * join of the (sub, cid) assignment rows against the m·ksub-row
    * table, followed by one per-vector [[adcOrderedSum]] fold
    * (order-stable AND cross-engine exact, so the served ranking is
    * oracle-checkable — the twin unrolls the joint-Lloyd training as
    * decimal CTEs, the q_pq_recall pattern).
    *
    * Scale shape: training and coding are linear broadcast passes; the
    * per-query cost is one narrow scan of the m·n code rows + a sum
    * — at 100 TB the codes frame is the only thing scanned per query,
    * ~1% the bytes of the raw vectors, and cells/codes can further prune
    * via the [[annIvfTopK]] coarse quantizer on top (IVF-PQ). With
    * `rerank` > 1 the ADC pass only SHORTLISTS rerank·k candidates and
    * the exact distance re-reads full vectors for those k·rerank ids
    * alone (broadcast semi-join) — the standard two-stage serving shape
    * that buys back quantization recall for an O(k) exact pass.
    */
  /** Train-once/serve ([[graft.ArtifactMemo]]): the codebook AND the
    * corpus code table are the stored artifact — m·ksub centroid rows
    * plus m small ints per vector (~1% of the raw vectors), retained so
    * a serving query never re-runs Lloyd's or re-codes the corpus. One
    * definition feeds [[pqTopK]] and [[pqRecallAtK]] (shared memo key
    * AND closure, so the eval always scores the served artifact).
    */
  private def pqArtifact(spark: SparkSession, subs: DataFrame, m: Int,
      ksub: Int, dim: Int, dir: String): (DataFrame, DataFrame) =
    graft.ArtifactMemo.cached(spark, s"pq:$m:$ksub:$dim:$dir") {
      val cb0 = pqCodebook(subs, ksub)
      (cb0, pqAssign(subs, cb0)
        .select(col("vec_id"), col("sub"), col("cid"))
        .cutLineage(eager = true))
    }

  def pqTopK(spark: SparkSession, dir: String, queryId: Long = 0,
      k: Int = 20, m: Int = 16, ksub: Int = 16, dim: Int = 64,
      rerank: Int = 4): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    val subs = subVectors(emb, m, dim / m)
    val (cb, assigned) = pqArtifact(spark, subs, m, ksub, dim, dir)
    val q = subs.filter(col("vec_id") === queryId)
      .select(col("sub"), col("sv").as("qsv"))
    val lut = cb.join(q, "sub")
      .select(col("sub"), col("cid"), l2sq(col("cv"), col("qsv")).as("d"))
    // ranking key = the order-stable [[adcOrderedSum]] fold (not dsum's
    // decimal image of computed doubles): serving ranks on EXACTLY the
    // value the recall eval scores and the DuckDB twin reproduces, which
    // is what lets q_pq_search hash-match end to end. The fold's
    // collect_list partial carries ≤ m doubles per vector through the
    // one shuffle (vs one decimal for a plain sum) — noise next to the
    // broadcast-LUT join that feeds it, and the exact re-rank dominates
    // serving cost anyway.
    val adc = assigned.join(broadcast(lut), Seq("sub", "cid"))
      .groupBy(col("vec_id"))
      .agg(adcOrderedSum(col("sub"), col("d")).as("adist"))
    if (rerank <= 1)
      adc.orderBy(col("adist"), col("vec_id")).limit(k)
    else {
      // production shape: the cheap ADC scan shortlists rerank·k
      // candidates; only those re-read their full vectors for the exact
      // distance — the scan stays code-only, the exact pass is O(k)
      val shortlist = adc.orderBy(col("adist"), col("vec_id"))
        .limit(k * rerank).select(col("vec_id"))
      val qv = emb.filter(col("vec_id") === queryId)
        .select(col("v").as("qv"))
      emb.join(broadcast(shortlist), "vec_id")
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), l2sq(col("v"), col("qv")).as("adist"))
        .orderBy(col("adist"), col("vec_id"))
        .limit(k)
    }
  }

  /** IVF-PQ (the composition the billion-vector engines serve): the
    * coarse quantizer assigns every vector to a cell and the PQ
    * codebook encodes the RESIDUAL v − cell_centroid (residuals
    * concentrate near 0, so the same ksub centroids quantize them far
    * better than raw vectors). A query probes `nprobe` cells; within
    * each, ADC runs against the cell-specific residual query
    * (q − cell_centroid) via a per-cell lookup table — m·ksub·nprobe
    * rows, still broadcast-sized — and the exact re-rank recovers the
    * tail. Cells NOT probed contribute zero scan cost: materialized,
    * the codes live partitioned by cell exactly like [[writeIvfIndex]],
    * so the per-query read is the probed cells' code rows only (the
    * lazy per-cell coding below computes exactly what that layout would
    * read).
    */
  def ivfPqTopK(spark: SparkSession, dir: String, queryId: Long = 0,
      k: Int = 20, nprobe: Int = 4, m: Int = 16, ksub: Int = 16,
      dim: Int = 64, rerank: Int = 4): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    // train-once/serve ([[graft.ArtifactMemo]]): coarse centroids +
    // residual codebook + the full corpus code table are the stored
    // artifact — exactly the frames [[writeIvfPqIndex]] persists
    val (coarse, cb, codes) = graft.ArtifactMemo.cached(spark,
      s"ivfpq:$m:$ksub:$dim:$dir")(ivfPqArtifactOn(emb, m, ksub, dim))
    ivfPqServe(emb, coarse, cb, codes, queryId, k, nprobe, m, dim, rerank)
  }

  /** Nearest-codeword coding of residual subvectors: (vec_id, cell,
    * sub, cid) — shared by the full-corpus artifact pass, the rebalance
    * recode and the append path.
    */
  private def codeResiduals(residualSubs: DataFrame,
      cb: DataFrame): DataFrame =
    residualSubs.join(broadcast(cb), "sub")
      .select(col("vec_id"), col("cell"), col("sub"),
        struct(l2sq(col("sv"), col("cv")).as("dist"), col("cid")).as("cand"))
      .groupBy(col("vec_id"), col("cell"), col("sub"))
      .agg(min(col("cand")).as("best"))
      .select(col("vec_id"), col("cell"), col("sub"),
        col("best.cid").as("cid"))

  /** Train the IVF-PQ artifact over any (vec_id, v) frame: the 16-cell
    * coarse quantizer, the residual PQ codebook, and the FULL corpus
    * residual-code table (vec_id, cell, sub, cid) — the frames
    * [[writeIvfPqIndex]] persists. All three frames materialize
    * eagerly; codes are m small ints per vector (~1% of the raw
    * vectors), coarse and cb are broadcast-sized.
    */
  private[graft] def ivfPqArtifactOn(emb: DataFrame, m: Int, ksub: Int,
      dim: Int): (DataFrame, DataFrame, DataFrame) = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val coarse = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
      .cutLineage(eager = true)
    // corpus-wide residuals train the PQ codebook; checkpointed because
    // both the training explode and the coding pass read them
    val residuals = assignNearest(emb, coarse).join(broadcast(coarse), "cid")
      .select(col("vec_id"), col("cid").as("cell"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("r"))
      .cutLineage()
    val cb = pqCodebook(
      subVectors(residuals.select(col("vec_id"), col("r").as("v")), m, dsub),
      ksub, seedFrom = 16L)
    val codes = codeResiduals(subVectors(residuals
        .select(col("vec_id"), col("cell"), col("r").as("v")), m, dsub), cb)
      .cutLineage(eager = true)
    (coarse, cb, codes)
  }

  /** The probe every IVF-PQ path shares: per-probed-cell residual LUTs,
    * ADC over the probed cells' code rows only (the full stored `codes`
    * table, pruned by the broadcast LUT join), exact re-rank over the
    * shortlist's raw vectors.
    */
  private def ivfPqServe(emb: DataFrame, coarse: DataFrame, cb: DataFrame,
      codes: DataFrame, queryId: Long, k: Int, nprobe: Int,
      m: Int, dim: Int, rerank: Int): DataFrame = {
    val dsub = dim / m
    // the one-row query vector is referenced by three branches (probe,
    // per-cell LUT, re-rank); materialize it once so the corpus table
    // is not re-scanned per branch (pushed-filter scans are cheap but
    // not free — three extra footer reads per query at serving rates)
    val q = emb.filter(col("vec_id") === queryId).select(col("v").as("qv"))
      .cutLineage(eager = true)
    val probeCells = coarse.crossJoin(broadcast(q))
      .withColumn("dist", l2sq(col("cv"), col("qv")))
      .orderBy(col("dist"), col("cid"))
      .limit(nprobe)
      .select(col("cid").as("cell"), col("cv"))

    // per-cell query residual -> per-cell LUT (nprobe·m·ksub rows)
    val qsubs = subVectors(probeCells.crossJoin(broadcast(q))
      .select(col("cell"),
        zip_with(col("qv"), col("cv"), (a, b) => a - b).as("v")), m, dsub)
      .select(col("cell"), col("sub"), col("sv").as("qsv"))
    val lut = cb.join(qsubs, "sub")
      .select(col("cell"), col("sub"), col("cid"),
        l2sq(col("cv"), col("qsv")).as("d"))

    // order-stable fold, same rationale as [[pqTopK]]: the serving
    // shortlist is ranked on the exact value the eval and the DuckDB
    // twin compute, so q_ivfpq is oracle-checkable
    val adc = codes
      .join(broadcast(lut), Seq("cell", "sub", "cid"))
      .groupBy(col("vec_id"))
      .agg(adcOrderedSum(col("sub"), col("d")).as("adist"))
    val shortlist = adc.orderBy(col("adist"), col("vec_id"))
      .limit(k * rerank).select(col("vec_id"))
    emb.join(broadcast(shortlist), "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), l2sq(col("v"), col("qv")).as("adist"))
      .orderBy(col("adist"), col("vec_id"))
      .limit(k)
  }

  /** Order-stable ADC sum: fold the m per-subspace lookup entries in
    * `sub` order, left-to-right in IEEE doubles (the [[l2sq]] fold
    * convention, bit-identical to DuckDB's `list_sum` over the same
    * ordered list). BOTH the serving paths ([[pqTopK]], [[ivfPqTopK]])
    * and the recall evals rank on this fold — one ranking key, scored
    * and served identically, and reproducible cross-engine (a [[dsum]]
    * decimal image of these COMPUTED doubles would be exactly the
    * conversion the oracle contract forbids).
    */
  private def adcOrderedSum(subC: org.apache.spark.sql.Column,
      dC: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // ordered_sum kernel ≡ aggregate(arr, 0.0D, (acc, x) -> acc + x),
    // minus the interpreted lambda dispatch per element (PropertySpec
    // pins the equivalence); GetArrayStructFields extracts the d column
    // without the interpreted transform
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.OrderedSum(ColumnBridge.expression(
      array_sort(collect_list(struct(subC.as("sub"), dC.as("d"))))
        .getField("d"))))
  }

  /** Recall@k curve of [[pqTopK]]'s two-stage ADC serving against exact
    * L2 search, per shortlist budget `rerank` ∈ {1, 2, 4, 8} — the PQ
    * twin of [[annRecallAtK]] and the eval that decides how deep the
    * shortlist must go before the exact re-rank recovers the true
    * neighbors (the m/ksub trade is invisible without it). Overlap
    * counts are integers and recall is one division, so the whole curve
    * is oracle-hash-checked even though the trained codebook and the
    * code table are golden-only: the twin unrolls the 2 joint-Lloyd
    * iterations as CTEs ([[pqCodebook]]'s decimal means, the
    * q_kmeans_recall-proven pattern), mirrors the (dist, cid) argmin
    * tie-breaks, and ranks ADC on the order-stable [[adcOrderedSum]]
    * fold. Scores the SAME memoized artifact [[pqTopK]] serves.
    *
    * Scale shape: one narrow pass over the m·n code rows joined to the
    * broadcast m·ksub LUT, collapsed map-side; each budget is a bounded
    * TakeOrdered + broadcast semi-join re-rank; the one exact pass is
    * the metric's definition.
    */
  def pqRecallAtK(spark: SparkSession, dir: String, queryId: Long = 0,
      k: Int = 20, m: Int = 16, ksub: Int = 16, dim: Int = 64,
      reranks: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    val subs = subVectors(emb, m, dim / m)
    val (cb, assigned) = pqArtifact(spark, subs, m, ksub, dim, dir)
    val q = subs.filter(col("vec_id") === queryId)
      .select(col("sub"), col("sv").as("qsv"))
    val lut = cb.join(q, "sub")
      .select(col("sub"), col("cid"), l2sq(col("cv"), col("qsv")).as("d"))
    val adc = assigned.join(broadcast(lut), Seq("sub", "cid"))
      .groupBy(col("vec_id"))
      .agg(adcOrderedSum(col("sub"), col("d")).as("adist"))
    val qv = emb.filter(col("vec_id") === queryId).select(col("v").as("qv"))
      .cutLineage(eager = true)
    val exactDist = emb.crossJoin(broadcast(qv))
      .select(col("vec_id"), l2sq(col("v"), col("qv")).as("dist"))
    val exact = exactDist.orderBy(col("dist"), col("vec_id")).limit(k)
      .select(col("vec_id"))
    // Budgets are nested prefixes of ONE shortlist ranking (adist ASC,
    // vec_id ASC is a total order, so top k·r is a prefix of top
    // k·r_max): one mergeable top-k pass over the ADC frame replaces
    // one TakeOrdered job per budget, the k·r_max candidates join the
    // raw vectors ONCE for exact rerank distances, and each budget's
    // final top-k collapses map-side from the shared reranked frame —
    // |reranks| reads of a corpus-sized frame become one.
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import emb.sparkSession.implicits._
    val tkAll = udaf(new graft.functions.TopKPairsAsc(k * reranks.max),
      ExpressionEncoder[(Double, Long)]())
    val tk = udaf(new graft.functions.TopKPairsAsc(k),
      ExpressionEncoder[(Double, Long)]())
    // TopKPairsAsc orders (score ASC, id ASC) in Spark's total order —
    // exactly the order every per-budget TakeOrdered used, with NaN
    // ranking last (worst) even though these sums of squares of
    // parquet-born finite components never produce one
    val shortAll = adc
      .agg(tkAll(col("adist"), col("vec_id")).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "c")))
      .select((col("pos") + 1).as("srank"), col("c._2").as("vec_id"))
    val budgets = array(reranks.map(lit(_)): _*)
    val ov = emb.join(broadcast(shortAll), "vec_id")
      .crossJoin(broadcast(qv))
      .select(col("srank"), col("vec_id"),
        l2sq(col("v"), col("qv")).as("dist"))
      .select(explode(filter(budgets, r => r * k >= col("srank")))
        .as("rerank"), col("vec_id"), col("dist"))
      .groupBy(col("rerank"))
      .agg(tk(col("dist"), col("vec_id")).as("top"))
      .select(col("rerank"), explode(col("top")).as("c"))
      .select(col("rerank"), col("c._2").as("vec_id"))
      .join(exact, "vec_id")
      .groupBy(col("rerank")).agg(count(lit(1)).as("n_overlap"))
    reranks.toDF("rerank")
      .join(broadcast(ov), Seq("rerank"), "left")
      .select(col("rerank"), lit(k).as("k"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)).cast("double")
          / lit(k.toDouble)).as("recall"))
      .orderBy(col("rerank"))
  }

  /** Recall@k curve of [[ivfPqTopK]] against exact L2 search, per probe
    * budget nprobe ∈ {1, 2, 4, 8} at the serving shortlist depth — the
    * composed eval: coarse-cell pruning recall × residual-PQ ranking
    * recall in one number, measured on the SAME memoized artifact the
    * serving path uses. Oracle-hash-checked end to end: the twin unrolls
    * coarse assignment, the residual split, both joint-Lloyd iterations
    * (decimal means — the residual components are computed doubles, the
    * one place this family leans on the cast matching cross-engine;
    * sub-ulp boundary cases are ~1e-11 per cast), coding, the per-cell
    * LUTs, and the [[adcOrderedSum]] ADC fold.
    */
  def ivfPqRecallAtK(spark: SparkSession, dir: String, queryId: Long = 0,
      k: Int = 20, m: Int = 16, ksub: Int = 16, dim: Int = 64,
      rerank: Int = 4, nprobes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    val (coarse, cb, codes) = graft.ArtifactMemo.cached(spark,
      s"ivfpq:$m:$ksub:$dim:$dir")(ivfPqArtifactOn(emb, m, ksub, dim))
    val q = emb.filter(col("vec_id") === queryId).select(col("v").as("qv"))
      .cutLineage(eager = true)
    // every cell ranked once (codebook-sized frame); budgets are nested
    // prefixes of the ranking, so one ADC pass serves all of them
    val rankedCells = coarse.crossJoin(broadcast(q))
      .withColumn("dist", l2sq(col("cv"), col("qv")))
      .select(col("cid").as("cell"), col("cv"),
        row_number().over(Window.orderBy(col("dist"), col("cid")))
          .as("crank"))
      .filter(col("crank") <= nprobes.max)
    val qsubs = subVectors(rankedCells.crossJoin(broadcast(q))
      .select(col("cell"), col("crank"),
        zip_with(col("qv"), col("cv"), (a, b) => a - b).as("v")), m, dsub)
      .select(col("cell"), col("crank"), col("sub"), col("sv").as("qsv"))
    val lut = cb.join(qsubs, "sub")
      .select(col("cell"), col("crank"), col("sub"), col("cid"),
        l2sq(col("cv"), col("qsv")).as("d"))
    val adc = codes.join(broadcast(lut), Seq("cell", "sub", "cid"))
      .groupBy(col("vec_id"), col("crank"))
      .agg(adcOrderedSum(col("sub"), col("d")).as("adist"))
    val exact = emb.crossJoin(broadcast(q))
      .select(col("vec_id"), l2sq(col("v"), col("qv")).as("dist"))
      .orderBy(col("dist"), col("vec_id")).limit(k)
      .select(col("vec_id"))
    // ONE ADC pass serves every probe budget (each coded vector fans
    // out to the budgets admitting its cell rank; the mergeable top-k
    // collapses each budget's shortlist map-side), the ≤|nprobes|·k·r
    // shortlist rows join the raw vectors ONCE for exact rerank
    // distances, and each budget's final top-k collapses from that
    // shared frame — |nprobes| reads of the ADC frame plus one
    // TakeOrdered + rerank join per budget become one pass each. The
    // ascending-score ordering is the pqRecallAtK argument verbatim.
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import emb.sparkSession.implicits._
    val tkShort = udaf(new graft.functions.TopKPairsAsc(k * rerank),
      ExpressionEncoder[(Double, Long)]())
    val tkK = udaf(new graft.functions.TopKPairsAsc(k),
      ExpressionEncoder[(Double, Long)]())
    val budgets = array(nprobes.map(lit(_)): _*)
    val short = adc
      .select(explode(filter(budgets, np => np >= col("crank")))
        .as("nprobe"), col("vec_id"), col("adist"))
      .groupBy(col("nprobe"))
      .agg(tkShort(col("adist"), col("vec_id")).as("top"))
      .select(col("nprobe"), explode(col("top")).as("c"))
      .select(col("nprobe"), col("c._2").as("vec_id"))
    val ov = emb.join(broadcast(short), "vec_id")
      .crossJoin(broadcast(q))
      .select(col("nprobe"), col("vec_id"),
        l2sq(col("v"), col("qv")).as("dist"))
      .groupBy(col("nprobe"))
      .agg(tkK(col("dist"), col("vec_id")).as("top"))
      .select(col("nprobe"), explode(col("top")).as("c"))
      .select(col("nprobe"), col("c._2").as("vec_id"))
      .join(exact, "vec_id")
      .groupBy(col("nprobe")).agg(count(lit(1)).as("n_overlap"))
    nprobes.toDF("nprobe")
      .join(broadcast(ov), Seq("nprobe"), "left")
      .select(col("nprobe"), lit(k).as("k"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)).cast("double")
          / lit(k.toDouble)).as("recall"))
      .orderBy(col("nprobe"))
  }

  /** Materialize the IVF-PQ serving artifact: residual PQ codes for the
    * WHOLE corpus written partitioned by coarse cell (`codes/cell=…/`,
    * m rows of (vec_id, sub, cid) per vector), alongside the two
    * broadcast-sized frames a probe needs — the coarse centroids and
    * the residual codebook. This is the billion-vector layout: the raw
    * vectors stay in the embeddings table (touched only by the exact
    * re-rank, via id semi-join); a probe READS only the probed cells'
    * code directories (dynamic partition pruning, the
    * [[annIvfFromIndex]] mechanism) and the two small frames.
    */
  def writeIvfPqIndex(spark: SparkSession, dir: String, path: String,
      m: Int = 16, ksub: Int = 16, dim: Int = 64): Unit = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    // same memo key as [[ivfPqTopK]]: write-then-serve (or serve-then-
    // write) trains exactly once per session
    val (coarse, cb, codes) = graft.ArtifactMemo.cached(spark,
      s"ivfpq:$m:$ksub:$dim:$dir")(ivfPqArtifactOn(emb, m, ksub, dim))
    codes.write.mode("overwrite").partitionBy("cell")
      .parquet(path + "/codes")
    cb.write.mode("overwrite").parquet(path + "/codebook")
    coarse.write.mode("overwrite").parquet(path + "/coarse")
  }

  /** The batch's residual codes under a STORED [[writeIvfPqIndex]]
    * artifact's FROZEN coarse centroids + codebook — the frame
    * [[appendToIvfPqIndex]] appends. Exposed `private[graft]` so the
    * admission plan is spec-checkable: it reads the batch and the two
    * broadcast-sized artifact frames ONLY — never the stored `codes/`
    * directories, never the corpus embeddings table (plan-proved in
    * `IvfIndexSpec`).
    */
  private[graft] def ivfPqBatchCodes(spark: SparkSession, batch: DataFrame,
      indexPath: String, m: Int = 16, dim: Int = 64): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val coarse = spark.read.parquet(indexPath + "/coarse")
    val cb = spark.read.parquet(indexPath + "/codebook")
    val residuals = assignNearest(batch, coarse)
      .join(broadcast(coarse), "cid")
      .select(col("vec_id"), col("cid").as("cell"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("r"))
    codeResiduals(subVectors(residuals
      .select(col("vec_id"), col("cell"), col("r").as("v")), m, dsub), cb)
  }

  /** Incrementally admit a vector batch into a stored
    * [[writeIvfPqIndex]] layout — closing the index-lifecycle
    * triptych's last gap (IVF, MinHash, and phash admission all had
    * partition-scoped appends; the PQ serving layout was rebuild-only,
    * which at 100 TB means re-encoding the corpus to admit a batch):
    * encode ONLY the batch's residuals under the frozen coarse
    * centroids and residual codebook, then append to the affected
    * cells' code directories. Partition-scoped appends, no rewrite of
    * existing code rows, and the corpus is never re-read or re-coded
    * (the admission plan touches the batch plus two broadcast-sized
    * artifact frames — plan-proved). Probes after an append are
    * identical to re-coding the UNION corpus under the same frozen
    * artifacts (spec-proved), because coding is a pure function of
    * (vector, coarse, codebook); rebuild — retraining the codebook —
    * is reserved for when quantization drift degrades recall
    * ([[annRecallAtK]] is the trigger metric), exactly the
    * [[appendToIvfIndex]] discipline one quantization level down.
    */
  def appendToIvfPqIndex(spark: SparkSession, batch: DataFrame,
      indexPath: String, m: Int = 16, dim: Int = 64): Unit =
    ivfPqBatchCodes(spark, batch, indexPath, m, dim)
      .write.mode("append").partitionBy("cell")
      .parquet(indexPath + "/codes")

  /** Probe a [[writeIvfPqIndex]] layout: per-probed-cell residual LUTs
    * from the stored codebook, ADC over ONLY the probed cells' code
    * directories, exact re-rank over the shortlist's raw vectors.
    * Results are identical to the in-memory [[ivfPqTopK]] by
    * construction (same codebook recipe, same tie-breaks) — spec-proved
    * — because coding all cells up front and pruning at read time
    * commutes with coding only the probed cells.
    */
  def ivfPqFromIndex(spark: SparkSession, indexPath: String, dir: String,
      queryId: Long = 0, k: Int = 20, nprobe: Int = 4, m: Int = 16,
      dim: Int = 64, rerank: Int = 4): DataFrame = {
    val dsub = dim / m
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    val coarse = spark.read.parquet(indexPath + "/coarse")
    val cb = spark.read.parquet(indexPath + "/codebook")
    val q = emb.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    val probeCells = coarse.crossJoin(broadcast(q))
      .withColumn("dist", l2sq(col("cv"), col("qv")))
      .orderBy(col("dist"), col("cid"))
      .limit(nprobe)
      .select(col("cid").as("cell"), col("cv"))
    val qsubs = subVectors(probeCells.crossJoin(broadcast(q))
      .select(col("cell"),
        zip_with(col("qv"), col("cv"), (a, b) => a - b).as("v")), m, dsub)
      .select(col("cell"), col("sub"), col("sv").as("qsv"))
    val lut = cb.join(qsubs, "sub")
      .select(col("cell"), col("sub"), col("cid"),
        l2sq(col("cv"), col("qsv")).as("d"))
    // partition-directory column reads back as INT; align the key type
    val adc = spark.read.parquet(indexPath + "/codes")
      .join(broadcast(lut.withColumn("cell", col("cell").cast("int"))),
        Seq("cell", "sub", "cid"))
      .groupBy(col("vec_id"))
      .agg(dsum(col("d")).as("adist"))
    val shortlist = adc.orderBy(col("adist"), col("vec_id"))
      .limit(k * rerank).select(col("vec_id"))
    emb.join(broadcast(shortlist), "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), l2sq(col("v"), col("qv")).as("adist"))
      .orderBy(col("adist"), col("vec_id"))
      .limit(k)
  }

  /** Per-label per-dimension embedding centroid — the class-prototype
    * aggregation behind semantic dedup cell seeding, drift monitoring,
    * and nearest-class-mean labeling. Shape: posexplode to
    * (label, pos, value) rows, then ONE map-side-combinable aggregation
    * on (label, pos) — the shuffle carries labels·dims partial rows per
    * map task, never vectors. Means run on the exact DECIMAL(18,6) image
    * (`Stable.davg`), so the centroid is order-independent under any
    * partitioning — which is what lets the same centroid be rebuilt
    * bit-identically from daily partials at 100 TB.
    */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(vecD(col("embedding"))).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(davg(col("x")).as("dim_mean"), count(lit(1)).as("n_vecs"))
      .orderBy(col("label"), col("pos"))

  /** Embedding-space drift monitor: per label, the cosine between the
    * class centroid computed from the even-id snapshot half and the
    * odd-id half (the same A/B convention as
    * [[graft.operators.TextAnalysis.corpusDrift]]) — the alarm that
    * catches an encoder version change, a preprocessing regression, or
    * a distribution shift upstream of every ANN index and semantic
    * dedup pass that assumes embeddings are comparable across batches.
    * Healthy pipelines sit near 1; a drifted class falls away first.
    *
    * Cosine is SCALE-INVARIANT, so the computation uses the per-dim
    * decimal SUM vectors, never the means: sums of DECIMAL(18,6)
    * images are exact, their pairwise products are exact
    * DECIMAL(37,12), and the dim-summed dot/norms stay exact decimals
    * until ONE final double division — no double→decimal re-rounding
    * of a computed value anywhere (that re-rounding is
    * engine-divergent at the last decimal: Spark rounds the double's
    * shortest representation, DuckDB its full binary expansion).
    * Order-independent, and every step replicates in ANSI SQL so the
    * drift value itself hash-checks — WITHIN the final cast's bound:
    * the terminal DECIMAL(38,12) → double conversion is single-rounded
    * here (BigDecimal) but double-rounded in engines that convert the
    * scaled integer first, so cross-engine bit-identity holds while
    * |dot|·10¹² < 2⁵³ (|dot| ≲ 9·10³ — comfortably true for unit-norm
    * embeddings at these snapshot sizes, where per-dim sums are ≲ 10²).
    * Past that corpus size, downscale both halves' per-dim sums by one
    * fixed power of ten (cosine is scale-invariant, so any common
    * factor is free) before the product stage — on both engines.
    * Shape: one posexplode + two label·dims-sized aggregations — the
    * [[labelCentroids]] shuffle twice over, nothing corpus-sized past
    * the first combine.
    */
  def embeddingDrift(spark: SparkSession, dir: String): DataFrame =
    embeddingDriftOn(Tables.embeddings(spark, dir))

  /** [[embeddingDrift]] over any raw (vec_id, embedding, label) frame. */
  def embeddingDriftOn(embRaw: DataFrame): DataFrame = {
    val d186 = org.apache.spark.sql.types.DecimalType(18, 6)
    val dims = embRaw
      .select(col("label"), (col("vec_id") % 2 === 0).as("in_a"),
        posexplode(vecD(col("embedding"))).as(Seq("pos", "x")))
    val cents = dims.groupBy(col("label"), col("pos"))
      .agg(sum(dec(when(col("in_a"), col("x")))).cast(d186).as("sa"),
        sum(dec(when(!col("in_a"), col("x")))).cast(d186).as("sb"),
        sum(when(col("in_a"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("cb"))
    cents.groupBy(col("label"))
      .agg(max(col("ca")).as("n_a"), max(col("cb")).as("n_b"),
        sum(col("sa") * col("sb")).as("dot"),
        sum(col("sa") * col("sa")).as("na2"),
        sum(col("sb") * col("sb")).as("nb2"))
      .select(col("label"), col("n_a"), col("n_b"),
        (col("dot").cast("double")
          / (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))))
          .as("cos_drift"))
      .orderBy(col("label"))
  }

  /** Contrastive hard-negative mining: for every label, the `k` vectors
    * from OTHER labels most cosine-similar to that label's centroid —
    * the negatives a contrastive/embedding training run actually learns
    * from (easy negatives contribute ~zero gradient). Centroids reuse
    * the [[labelCentroids]] exact DECIMAL(18,6) per-dimension mean, so
    * the anchor is bit-stable across engines; candidate scoring is the
    * codegen'd dot kernel.
    *
    * Shape: centroids are #labels·d rows (tiny) — rebuilt to arrays and
    * broadcast; the corpus side is one narrow pass producing
    * #labels·n scored rows, cut to k per label by a per-label window.
    * At 100 TB the centroid probe prunes through the IVF layout first
    * ([[annIvfFromIndex]]) so the fanned frame is #labels·candidates,
    * not #labels·n.
    */
  def hardNegatives(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val cents = labelCentroids(spark, dir)
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("dim_mean"))))
        .getField("dim_mean").as("cv"))
      .select(col("label").as("anchor_label"), col("cv"))
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), vecD(col("embedding")).as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor_label"))
      .orderBy(col("cos").desc, col("vec_id"))
    emb.crossJoin(broadcast(cents))
      .filter(col("label") =!= col("anchor_label"))
      .select(col("anchor_label"), col("vec_id"), col("label"),
        cosine(col("v"), col("cv")).as("cos"))
      // a zero-norm vector's cosine is NaN, and Spark sorts NaN ABOVE
      // +Inf in a DESC window — it would outrank every real negative;
      // drop degenerates before ranking (oracle twin filters identically)
      .filter(!isnan(col("cos")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("anchor_label"), col("rank"), col("vec_id"), col("label"),
        col("cos"))
      .orderBy(col("anchor_label"), col("rank"))
  }

  /** Unit-normalize + symmetric int8 quantization of the embedding
    * column — the 4× storage/bandwidth compression step an embedding
    * corpus pays before ANN serving. Pure narrow map (scan-speed at any
    * corpus size, no shuffle before the deterministic output sort);
    * `floor(x/‖v‖·127)` clamped to [-127, 127] is exact integer output
    * from IEEE-deterministic inputs, so the quantized corpus — unlike a
    * float pipeline — is bit-identical across engines (oracle-checked)
    * and re-materializations.
    */
  def quantizeEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    val v = vecD(col("embedding"))
    quantize(Tables.embeddings(spark, dir).select(col("vec_id"), v.as("v")))
  }

  /** The int8 lattice of a vector under its own norm — [[quantize]]'s
    * value rule (floor(x/‖v‖·127), clamped to ±127) as an
    * integer-valued array<double>, so the codegen'd [[dot]] kernel
    * scores it directly and the products/sums stay EXACT in doubles
    * (|element| ≤ 127, so a dot over ≤ 2⁴⁰ dims fits 2⁵³). Callers
    * must have filtered zero-norm vectors (x/0 is ±Inf/NaN).
    */
  private def int8Lattice(v: org.apache.spark.sql.Column,
      nrm: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(v, x => greatest(lit(-127L),
      least(lit(127L), floor(x / nrm * 127))).cast("double"))

  /** Int8 ANN serving path over the symmetric-quantized corpus
    * ([[quantizeEmbeddings]]' value rule): stage 1 ranks EVERY corpus
    * vector by the integer dot product of its int8 lattice against the
    * quantized query — integer arithmetic, so unlike a float ANN score
    * the candidate ranking is bit-exact on any engine and the whole
    * path is DuckDB-hash-checkable end to end; stage 2 re-ranks only
    * the ≤`candidateK` survivors with the exact float cosine on the
    * RAW vectors. The quantized pass is the memory-bandwidth win (4
    * bytes/dim → 1 at serving time on a real int8 layout; here the
    * lattice stays in the plan) and the bounded re-rank restores exact
    * ordering among the survivors — the standard two-stage serving
    * compromise, with its recall pinned against exact gold in
    * `SimilarityRecallSpec`.
    *
    * Scale shape: stage 1 is one narrow corpus pass through the
    * codegen'd [[dot]] kernel collapsing map-side via the mergeable
    * [[graft.functions.TopKPairs]] aggregate (≤candidateK entries per
    * task cross the wire); stage 2 is a broadcast semi-join of
    * ≤candidateK ids back to the corpus plus a candidateK-row sort.
    * Zero-norm vectors have no lattice (x/0) and no defined cosine;
    * they are excluded from candidacy up front.
    */
  def int8TopK(spark: SparkSession, dir: String, queryId: Long = 0,
      k: Int = 10, candidateK: Int = 40): DataFrame =
    int8TopKOn(Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v")),
      queryId, k, candidateK)

  /** [[int8TopK]] over any (vec_id, v: array<double>) frame. */
  def int8TopKOn(emb: DataFrame, queryId: Long = 0, k: Int = 10,
      candidateK: Int = 40): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    require(k <= candidateK,
      s"re-rank depth k=$k exceeds the candidate pool candidateK=$candidateK")
    val lat = emb.select(col("vec_id"), col("v"), norm(col("v")).as("nrm"))
      .filter(col("nrm") > 0)
      .select(col("vec_id"), col("v"),
        int8Lattice(col("v"), col("nrm")).as("qa"))
    val q = lat.filter(col("vec_id") === queryId)
      .select(col("qa").as("qq"), col("v").as("qv"))
    // fail loudly, not with an empty frame: an absent or zero-norm query
    // would make the broadcast q empty and the crossJoin silently drop
    // the whole corpus, masking a caller bug (≤1-row existence probe).
    require(!q.isEmpty,
      s"int8TopK: query vec_id=$queryId is absent or zero-norm — no cosine is defined")
    val tk = udaf(new graft.functions.TopKPairs(candidateK),
      ExpressionEncoder[(Double, Long)]())
    // stage 1: exact integer dot on the lattices, mergeable top-candidateK
    val cands = lat.crossJoin(broadcast(q))
      .select(col("vec_id"), dot(col("qa"), col("qq")).as("dq"))
      .agg(tk(col("dq"), col("vec_id")).as("top"))
      .select(explode(col("top")).as("c"))
      .select(col("c._2").as("vec_id"), col("c._1").cast("long").as("dot_q"))
    // stage 2: exact float re-rank of the bounded survivor set
    lat.join(broadcast(cands), "vec_id")
      .crossJoin(broadcast(q.select(col("qv"))))
      .select(col("vec_id"), col("dot_q"),
        cosine(col("v"), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** [[int8TopK]] composed with the IVF cell layout — the serving
    * shape a 100 TB deployment runs: the probe prunes to `nprobe`
    * cells ([[annIvfTopK]]'s deterministic first-16 codebook and
    * tie-breaks), the int8 stage ranks ONLY the probed cells'
    * lattices, and the exact re-rank touches ≤`candidateK` raw
    * vectors. Both stages stay engine-exact (integer candidate
    * ranking, float re-rank on raw doubles), so the whole composition
    * is oracle-hash-checked — unusual for an ANN path and exactly why
    * the int8 serving tier is the one to scale out.
    */
  def annIvfInt8TopK(spark: SparkSession, dir: String,
      queryId: Long = 0, k: Int = 10, nprobe: Int = 4,
      candidateK: Int = 40): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    require(k <= candidateK,
      s"re-rank depth k=$k exceeds the candidate pool candidateK=$candidateK")
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    val centroids = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val assigned = assignNearest(emb, centroids)
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"), norm(col("v")).as("qnrm"))
      .filter(col("qnrm") > 0)
      .select(col("qv"), int8Lattice(col("qv"), col("qnrm")).as("qq"))
    // same loud-failure contract as int8TopKOn: an empty q frame would
    // silently empty every downstream crossJoin (≤1-row existence probe).
    require(!q.isEmpty,
      s"annIvfInt8TopK: query vec_id=$queryId is absent or zero-norm — no cosine is defined")
    val probeCells = centroids.crossJoin(broadcast(q.select(col("qv"))))
      .withColumn("dist", l2sq(col("cv"), col("qv")))
      .orderBy(col("dist"), col("cid"))
      .limit(nprobe)
      .select(col("cid"))
    val probed = assigned.join(broadcast(probeCells), "cid")
      .withColumn("nrm", norm(col("v")))
      .filter(col("nrm") > 0)
      .select(col("cid"), col("vec_id"), col("v"),
        int8Lattice(col("v"), col("nrm")).as("qa"))
    val tk = udaf(new graft.functions.TopKPairs(candidateK),
      ExpressionEncoder[(Double, Long)]())
    val cands = probed.crossJoin(broadcast(q.select(col("qq"))))
      .select(col("vec_id"), dot(col("qa"), col("qq")).as("dq"))
      .agg(tk(col("dq"), col("vec_id")).as("top"))
      .select(explode(col("top")).as("c"))
      .select(col("c._2").as("vec_id"), col("c._1").cast("long").as("dot_q"))
    probed.join(broadcast(cands), "vec_id")
      .crossJoin(broadcast(q.select(col("qv"))))
      .select(col("vec_id"), col("cid"), col("dot_q"),
        cosine(col("v"), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup inside embedding-space
    * cells. Vectors are assigned to the deterministic IVF codebook (the
    * first `c` vectors, same cells as [[annIvfTopK]]); inside each cell
    * the lowest-vec_id member is the retained representative and any
    * other member whose cosine to it is ≥ `threshold` is marked drop —
    * catching paraphrase/re-encode duplicates that share no n-grams and
    * so pass every lexical dedup stage.
    *
    * This is the leader-clustering variant of the paper's
    * keep-one-per-near-dup-group policy: each member compares to ONE
    * leader, not to every cell sibling, so the per-cell cost is O(|cell|)
    * — at 100 TB cell population is bounded by choosing the codebook size
    * ∝ corpus size (the paper uses k ≈ n/10⁴), and the whole operator is
    * the IVF assignment (broadcast codebook, map-side-combined argmin)
    * plus one broadcast join of ≤k leaders. No pairwise stage exists
    * anywhere.
    *
    * Like [[graft.operators.Dedup.embeddingNearDupPlanted]], the corpus
    * is augmented with deterministically perturbed copies (vec_id % 25
    * plus every codebook vector, first component ×1.01, re-keyed
    * +1,000,000) so the testdata — whose max organic pairwise cosine is
    * 0.479 — exercises the drop path in EVERY cell on both engines: each
    * codebook vector is its cell's lowest-id member, so its planted copy
    * lands in the same cell at cos ≈ 1 and must be marked drop.
    */
  /** The q_semdedup QUERY: [[semDedupOn]] over the embeddings table
    * augmented with deterministically perturbed near-copies (vec_id +
    * 1,000,000; first dimension × 1.01) so the testdata — whose max
    * organic pairwise cosine is ~0.48 — actually exercises the ≥ 0.95
    * drop path on both engines. The planting is part of THIS query's
    * definition (the DuckDB oracle builds the same augmented frame);
    * production corpora call [[semDedupOn]], which plants nothing.
    */
  def semDedup(spark: SparkSession, dir: String, c: Int = 16,
      threshold: Double = 0.95): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    val planted = base.filter(col("vec_id") % 25 === 0 || col("vec_id") < c)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("v"), (x, i) =>
          when(i === 0, x * lit(1.01)).otherwise(x)).as("v"))
    semDedupOn(base.unionByName(planted), c, threshold)
  }

  /** Semantic dedup over any (vec_id, v: array<double>) frame: IVF-cell
    * leaders keep, members at cosine ≥ `threshold` to their cell leader
    * drop. Centroids are the first `c` vec_ids' vectors.
    */
  def semDedupOn(base: DataFrame, c: Int = 16,
      threshold: Double = 0.95): DataFrame = {
    val centroids = base.filter(col("vec_id") < c)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val assigned = assignNearest(base, centroids)
    // cell leader = min vec_id; min(struct) keeps the argmin map-side
    // combinable (same shape as the ANN argmin), and vec_id is unique so
    // the carried vector never decides the comparison
    val leaders = assigned.groupBy(col("cid"))
      .agg(min(struct(col("vec_id"), col("v"))).as("l"))
      .select(col("cid"), col("l.vec_id").as("leader_id"),
        col("l.v").as("lv"))
    assigned.join(broadcast(leaders), "cid")
      .select(col("vec_id"), col("cid"),
        // a zero-norm member (or leader) makes cosine 0/0 = NaN; NULL it
        // so the keep rule below can treat "unjudgeable" explicitly
        nanvl(cosine(col("v"), col("lv")), lit(null).cast("double"))
          .as("cos_leader"),
        (col("vec_id") === col("leader_id")).as("is_leader"))
      // degenerate (NULL-cosine) members are KEPT: a vector with no
      // defined similarity cannot be judged a near-copy of the leader
      .withColumn("keep", col("is_leader")
        || coalesce(col("cos_leader") < threshold, lit(true)))
      .select(col("vec_id"), col("cid"), col("cos_leader"), col("keep"))
      .orderBy(col("vec_id"))
  }

  /** Top principal component of the embedding corpus — the variance-
    * structure probe behind embedding-drift monitoring (a re-encode or
    * domain shift shows up as a rotated/shrunk top component long before
    * downstream metrics move) and the classic pre-ANN dimensionality
    * check (how much of the energy one direction carries).
    *
    * Distributed part: the d×d second-moment matrix via two chained
    * posexplodes and ONE map-side-combinable (i, j) aggregation on the
    * exact DECIMAL image — the shuffle carries d² partial rows per map
    * task, never vectors. Driver part: the d×d covariance (artifact-
    * sized, same bounded-`head()` pattern as the BPE argmax) runs a
    * fixed-iteration power method from the deterministic e₀ seed;
    * IEEE-deterministic given the exact moments, with the sign fixed by
    * making the largest-|loading| entry positive (ties → lowest pos).
    * Oracle-checked since round 13: the twin runs the SAME 100-step
    * iteration as a DuckDB recursive CTE over the exact long-micro
    * covariance, every fold index-ordered from 0.0 — the float
    * loadings themselves hash-match (golden kept as the cheap sbt-test
    * regression pin).
    *
    * At 100 TB the explode shape (d² generated rows per vector) trades
    * for per-partition Gram accumulation (`mapPartitions` + BLAS over
    * each partition, then one d²-row merge) — same shuffle, fewer row
    * objects; the declarative form is kept here because it pins the
    * exact-decimal determinism the golden relies on.
    */
  def pcaTopComponent(spark: SparkSession, dir: String,
      iters: Int = 100): DataFrame = {
    val (cov, meansArr) = covarianceArtifact(spark, dir)
    powerIterationTop(spark, cov, meansArr, iters)
  }

  /** The driver tail [[pcaTopComponent]] and [[pcaFromArtifact]] share:
    * one fixed-budget power iteration on an exact covariance, sign-fixed
    * — bit-identical output whichever path produced (cov, means).
    */
  private def powerIterationTop(spark: SparkSession,
      cov: Array[Array[Double]], meansArr: Array[Double],
      iters: Int): DataFrame = {
    val d = cov.length
    var w = Array.tabulate(d)(i => if (i == 0) 1.0 else 0.0)
    for (_ <- 0 until iters) {
      val cw = Array.tabulate(d)(i =>
        (0 until d).map(j => cov(i)(j) * w(j)).sum)
      val nrm = math.sqrt(cw.map(a => a * a).sum)
      w = if (nrm == 0) cw else cw.map(_ / nrm)
    }
    val eig = (0 until d).map(i =>
      (0 until d).map(j => w(i) * cov(i)(j) * w(j)).sum).sum
    val trace = (0 until d).map(i => cov(i)(i)).sum
    val flipAt = w.indices.minBy(i => (-math.abs(w(i)), i))
    val signed = if (w(flipAt) < 0) w.map(-_) else w
    import spark.implicits._
    meansArr.zipWithIndex
      .map { case (m, i) => (i, m, signed(i), eig, eig / trace) }.toSeq
      .toDF("pos", "dim_mean", "loading", "eigenvalue", "explained_frac")
      .orderBy(col("pos"))
  }

  /** Per-dimension first-moment micro sums (long micro-units of the
    * DECIMAL(18,6) image of RAW components) plus the row count — the
    * first-moment sibling of [[triangleMicroMoments]], and the exact
    * integer image of [[graft.functions.Stable.davg]]'s decimal sum:
    * `BigDecimal.valueOf(Σ, 6).doubleValue / n` reproduces davg's
    * Decimal→Double cast bit-for-bit (spec-pinned via the maintainer
    * round-trip). Mergeable by element-wise long addition, which is
    * what lets a streaming maintainer keep covariance state exact.
    */
  private[graft] def dimMicroSums(x: DataFrame): Array[Long] = {
    import graft.functions.Stable.dec
    val rows = x
      .select(posexplode(col("v")).as(Seq("i", "xi")))
      .select(col("i"), (dec(col("xi")) * 1000000).cast("long").as("xm"))
      .groupBy(col("i")).agg(sum(col("xm")).as("sm"))
      .collect() // d rows — bounded artifact
    val out = new Array[Long](rows.length)
    rows.foreach(r => out(r.getAs[Int]("i")) = r.getAs[Long]("sm"))
    out
  }

  /** Rebuild the (cov, means) driver artifact from maintained micro
    * moments — the same centering chain as [[covarianceArtifact]]
    * (`sxx/n − mᵢ·mⱼ`, two separate IEEE divisions), with the means
    * reconstructed through the SAME Decimal→Double cast davg performs.
    */
  private[graft] def covFromMicros(tri: Array[Long], dims: Array[Long],
      n: Long): (Array[Array[Double]], Array[Double]) = {
    val d = dims.length
    require(tri.length == d.toLong * (d + 1) / 2,
      s"triangle length ${tri.length} does not match d=$d")
    require(n > 0, "covariance needs at least one vector")
    val meansArr = dims.map(s =>
      java.math.BigDecimal.valueOf(s, 6).doubleValue / n)
    val cov = Array.ofDim[Double](d, d)
    var pos = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val sxx = tri(pos).toDouble / 1e6
        val c = sxx / n - meansArr(i) * meansArr(j)
        cov(i)(j) = c
        cov(j)(i) = c
        pos += 1
        j += 1
      }
      i += 1
    }
    (cov, meansArr)
  }

  /** PCA served from a maintained [[graft.streaming.EventStream
    * .covMaintain]] artifact: read the one-row micro-moment state,
    * rebuild the exact covariance, run the same power iteration —
    * bit-identical to [[pcaTopComponent]] over the union of everything
    * the maintainer ever absorbed (spec-pinned), at the cost of ONE
    * artifact-row read instead of a corpus scan. The serve path a drift
    * monitor polls between ingest batches.
    */
  def pcaFromArtifact(spark: SparkSession, artifactPath: String,
      iters: Int = 100): DataFrame = {
    val row = spark.read.parquet(artifactPath).head()
    // collected Seqs are list-like in this Spark — materialize before
    // positional loops (the triangleMicroMoments lesson)
    val tri = row.getAs[Seq[Long]]("tri").toArray
    val dims = row.getAs[Seq[Long]]("dims").toArray
    val n = row.getAs[Long]("n")
    val (cov, means) = covFromMicros(tri, dims, n)
    powerIterationTop(spark, cov, means, iters)
  }

  /** The distributed part both PCA entries share: the exact-decimal
    * d×d covariance (mirrored dense from the upper-triangle artifact)
    * plus the per-dimension means, both driver-side arrays of
    * artifact size (d², d) — see [[pcaTopComponent]]'s scaladoc for
    * the shuffle shape and the long-micro-unit exactness bound.
    */
  private def covarianceArtifact(spark: SparkSession,
      dir: String): (Array[Array[Double]], Array[Double]) = {
    import graft.functions.Stable.davg
    val x = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
      .cutLineage()
    val (micro, n) = triangleMicroMoments(x)
    val means = x.select(posexplode(col("v")).as(Seq("i", "xi")))
      .groupBy(col("i")).agg(davg(col("xi")).as("m"))
    val meansArr = means.collect()
      .map(r => (r.getAs[Int]("i"), r.getAs[Double]("m")))
      .sortBy(_._1).map(_._2)
    val d = meansArr.length
    // triangle → dense mirror, centered driver-side: sxx/n − mᵢ·mⱼ is
    // the same IEEE op chain the previous in-frame formulation ran, so
    // every committed PCA golden is byte-stable across the refactor
    val cov = Array.ofDim[Double](d, d)
    var pos = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val sxx = micro(pos).toDouble / 1e6
        val c = sxx / n - meansArr(i) * meansArr(j)
        cov(i)(j) = c
        cov(j)(i) = c
        pos += 1
        j += 1
      }
      i += 1
    }
    (cov, meansArr)
  }

  /** The exact second-moment triangle in long micro-units, as an
    * artifact-sized driver array — the distributed half of
    * [[covarianceArtifact]].
    *
    * The per-partition Gram shape the 100 TB deployment wants,
    * QUADRATIC-IN-d ROW FAN-OUT REMOVED: one
    * `mapPartitions` pass accumulates the whole triangle into a single
    * long[] per partition (a tight i≤j loop over each vector — the BLAS
    * `dsyr` access pattern on the micro-unit image), emitting ONE row of
    * d(d+1)/2 longs per partition instead of d(d+1)/2 rows per VECTOR
    * before map-side combine. At d = 1024 the explode shape generates
    * ~525k row objects per vector for the combiner to re-absorb; the
    * Gram shape generates none — the d² cost runs as raw array adds in
    * the partition loop. Per-element rounding uses the same
    * shortest-repr HALF_UP image Spark's double→decimal cast applies
    * ([[microImage]]), so partial sums commute with
    * [[triangleMicroMomentsExplode]]'s exactly (integer adds are
    * associative — the whole point of the micro-unit idiom); the two
    * are BIT-IDENTICAL (spec-pinned in `OperatorsSpec`).
    *
    * Σ|micros| < 2⁵³ bound (n-shaped, not d²-shaped — each cell sums ONE
    * product per corpus vector): unit-scale components hold to ~9·10⁹
    * vectors; past that, aggregate in `dsum(p)` instead — see the git
    * history of this file for the measured decimal-vs-long trade
    * (6.3 s → 2.5 s at sf0.1).
    */
  private[graft] def triangleMicroMoments(
      x: DataFrame): (Array[Long], Long) = {
    val spark = x.sparkSession
    import spark.implicits._
    // the Gram pass's parallelism IS the partition count (one long[]
    // accumulator per partition). A small local corpus often scans as
    // 1–2 partitions; spreading VECTORS (d doubles/row) costs far
    // less than the explode shape's d(d+1)/2-partials exchange, and at
    // production scale the scan already has ≥ core-count partitions
    // so this branch is a no-op.
    val par = spark.sparkContext.defaultParallelism
    val xs = x.select(col("v"))
    val xp = if (xs.rdd.getNumPartitions < par) xs.repartition(par) else xs
    val parts = xp.as[Seq[Double]].mapPartitions { it =>
      var acc: Array[Long] = null
      var n = 0L
      it.foreach { vs =>
        // materialize the row ONCE: the encoder's Seq is list-like in
        // this Spark, so positional v(j) inside the triangle loop
        // would be O(d) each — O(d³)/vector, a 10× wall-time cliff at
        // d=256 (measured); the array copy is O(d) and indexing O(1)
        val v = vs.toArray
        val d = v.length
        if (acc == null) acc = new Array[Long](d * (d + 1) / 2)
        var pos = 0
        var i = 0
        while (i < d) {
          val vi = v(i)
          var j = i
          while (j < d) {
            acc(pos) += microImage(vi * v(j))
            pos += 1
            j += 1
          }
          i += 1
        }
        n += 1L
      }
      if (acc == null) Iterator.empty else Iterator((acc.toSeq, n))
    }.collect() // ≤ #partitions rows of d(d+1)/2 longs — bounded artifact
    val micro = new Array[Long](parts.map(_._1.length).foldLeft(0)(math.max))
    parts.foreach { case (p, _) =>
      // materialize before indexing — the collected Seq[Long] is
      // list-like, and positional p(k) in this loop would be O(k)
      // each: O(triangle²) total, ~100 s at d=256 (measured) for
      // what is otherwise a memcpy-speed merge
      val pa = p.toArray
      var k = 0
      while (k < pa.length) { micro(k) += pa(k); k += 1 }
    }
    (micro, parts.map(_._2).sum)
  }

  /** The declarative shape of [[triangleMicroMoments]], kept as the
    * reference its Gram pass is spec-pinned against: posexplode the
    * native `vec_tri_prods` kernel's upper-triangle products, give each
    * product its DECIMAL(18,6) image (HALF_UP at 6 dp — the same per-row
    * value `dsum` feeds) carried as an exact long, and run ONE
    * map-side-combinable per-position sum. The shuffle carries d(d+1)/2
    * partial rows per map task.
    */
  private[graft] def triangleMicroMomentsExplode(
      x: DataFrame): (Array[Long], Long) = {
    import graft.functions.Stable.dec
    import graft.functions.VectorFunctions.triProds
    val rows = x
      .select(posexplode(triProds(col("v"))).as(Seq("pos", "p")))
      // same loud failure mode as the Gram path's [[microImage]]: past
      // the shared |p| bound the DECIMAL(18,6) cast would overflow to
      // NULL and silently DROP the product from the sum — raise instead,
      // so the reference never trades the Gram path's crash for a
      // silently-wrong covariance
      .select(col("pos"), when(abs(col("p")) >= lit(MicroBound),
          raise_error(concat(lit("covariance product out of micro-unit " +
            s"range (|p| >= $MicroBound): "), col("p").cast("string"))))
        .otherwise((dec(col("p")) * 1000000).cast("long")).as("pm"))
      .groupBy(col("pos"))
      .agg(sum(col("pm")).as("sm"), count(lit(1)).as("n"))
      .collect()
    val micro = new Array[Long](rows.length)
    rows.foreach(r => micro(r.getAs[Int]("pos")) = r.getAs[Long]("sm"))
    (micro, if (rows.isEmpty) 0L else rows.head.getAs[Long]("n"))
  }

  /** Shared |product| bound of [[triangleMicroMoments]] and its explode
    * reference: DECIMAL(18,6) holds 12 integer digits, so the explode
    * path's cast NULLs (silently) at |p| ≥ 1e12 while the raw
    * `longValueExact` would only throw near 9.2e12 — both paths now
    * fail LOUDLY at this one threshold, the tighter of the two, so the
    * two shapes never differ by a crash against a silently-wrong
    * covariance. Unit-scale embedding components (|x| ≲ 1e3) sit ~6
    * orders of magnitude under it.
    */
  private[graft] val MicroBound: Double = 1e12

  /** The long micro-unit image of one product — EXACTLY the value the
    * declarative path's `(dec(p) * 1000000).cast("long")` produces:
    * Spark's double→decimal cast goes through the double's SHORTEST
    * DECIMAL REPRESENTATION (`BigDecimal.valueOf` ≡ `Double.toString`)
    * then HALF_UP at scale 6; replicating that chain (not a naive
    * `math.round(p * 1e6)`, which rounds the BINARY expansion and
    * diverges on half-way cases) is what makes the Gram path
    * bit-identical to the explode path. Products at or past
    * [[MicroBound]] raise (same failure mode as the explode path's
    * guarded cast).
    */
  @inline private def microImage(p: Double): Long = {
    if (math.abs(p) >= MicroBound || p.isNaN)
      throw new ArithmeticException(
        s"covariance product out of micro-unit range (|p| >= $MicroBound): $p")
    java.math.BigDecimal.valueOf(p)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .movePointRight(6).longValueExact()
  }

  /** Top-`r` principal components — [[pcaTopComponent]] generalized by
    * POWER ITERATION WITH DEFLATION on the same exact-decimal d×d
    * driver artifact: component c power-iterates the residual matrix
    * C − Σ_{b<c} λ_b w_b w_bᵀ from the deterministic e_c seed, then
    * deflates its own (λ_c, w_c) out before the next component. The
    * distributed work is IDENTICAL to the single-component entry (one
    * corpus pass for the triangle moments — r only multiplies the
    * d²-sized driver loop), which is why deflation beats r restarts
    * of the corpus job. Embedding-drift and variance diagnostics need
    * the subspace, not just PC1: a re-encode that rotates energy from
    * PC2 into PC3 is invisible to the top component alone.
    *
    * Determinism: same fixed-iteration/fixed-seed discipline as
    * [[pcaTopComponent]] (IEEE-deterministic given the exact moments),
    * each component's sign fixed by its largest-|loading| entry
    * (ties → lowest pos). Component 0 is BIT-IDENTICAL to
    * [[pcaTopComponent]]'s output (spec-pinned). Golden-pinned like
    * its parent: iterative float linear algebra has no SQL twin.
    * Orthogonality, eigenvalue monotonicity, and explained-variance
    * bounds are spec-pinned in `OperatorsSpec`.
    */
  def pcaTopComponents(spark: SparkSession, dir: String, r: Int = 4,
      iters: Int = 100): DataFrame = {
    val (cov0, meansArr) = covarianceArtifact(spark, dir)
    val d = cov0.length
    require(r >= 1 && r <= d, s"component count r=$r outside [1, $d]")
    val trace = (0 until d).map(i => cov0(i)(i)).sum
    // deflated working copy; cov0 stays pristine for the trace
    val cov = Array.tabulate(d, d)((i, j) => cov0(i)(j))
    val out = Seq.newBuilder[(Int, Int, Double, Double, Double)]
    for (c <- 0 until r) {
      var w = Array.tabulate(d)(i => if (i == c) 1.0 else 0.0)
      for (_ <- 0 until iters) {
        val cw = Array.tabulate(d)(i =>
          (0 until d).map(j => cov(i)(j) * w(j)).sum)
        val nrm = math.sqrt(cw.map(a => a * a).sum)
        w = if (nrm == 0) cw else cw.map(_ / nrm)
      }
      val eig = (0 until d).map(i =>
        (0 until d).map(j => w(i) * cov(i)(j) * w(j)).sum).sum
      val flipAt = w.indices.minBy(i => (-math.abs(w(i)), i))
      val signed = if (w(flipAt) < 0) w.map(-_) else w
      for (i <- 0 until d)
        out += ((c, i, signed(i), eig, eig / trace))
      // deflate: residual loses exactly this component's energy
      for (i <- 0 until d; j <- 0 until d)
        cov(i)(j) -= eig * signed(i) * signed(j)
    }
    import spark.implicits._
    out.result()
      .toDF("component", "pos", "loading", "eigenvalue", "explained_frac")
      .orderBy(col("component"), col("pos"))
  }

  /** Int8-quantize (vec_id, v: array<double>) rows to (vec_id, nrm, qv).
    *
    * qv is the comma-joined quantized vector, not an array column: the
    * verification harness hashes cell values and array cells break it.
    * The zero-norm vector is gated up front with qv = NULL — gating
    * per-element would not work, because least/greatest silently SKIP
    * NULL arguments (Spark and DuckDB both), so a NULL element would
    * quantize to the clamp bound instead of propagating.
    */
  private[operators] def quantize(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("v"), norm(col("v")).as("nrm"))
      .select(col("vec_id"), col("nrm"),
        when(col("nrm") === 0, lit(null).cast("string")).otherwise(
          array_join(transform(col("v"), x =>
            greatest(lit(-127), least(lit(127),
              floor(x / col("nrm") * 127).cast("int"))).cast("string")), ","))
          .as("qv"))
      .orderBy(col("vec_id"))
}
