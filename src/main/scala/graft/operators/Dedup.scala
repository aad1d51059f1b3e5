package graft.operators

import graft.Materialize.MatOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.sources.Tables

/** Deduplication operators for a training-data pipeline: exact, MinHash
  * LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design: every strategy is candidate-generation-first. Exact dedup
  * is one hash aggregation; the near-dup paths compute per-document
  * signatures in a narrow map stage, then shuffle only (band-key, doc)
  * pairs — never all-pairs. The exact-similarity verify runs only on
  * bucket-collision candidates, which is what keeps near-dedup feasible at
  * 100 TB (all-pairs is O(n²); LSH is ~O(n · bands)).
  *
  * The two exact-verify families each have ONE pair core that every
  * call shape (corpus self-join, in-memory batch ⋈ corpus join, stored
  * index probe) feeds with its two sides: [[minhashPairs]] over
  * [[minhashIndexFrames]] and [[ppjoinVerified]] over [[prefixUnder]]
  * postings, both verifying through [[verified]]. Each operator
  * evaluates its own lineage; when chaining several near-dup strategies
  * over one corpus at scale, build [[shingled]] once (cached) and feed
  * the `*FromShingled` variants instead of paying a source scan and a
  * shingle kernel pass per operator.
  */
object Dedup {

  /** Word k-shingles, deduplicated, as the document's similarity set.
    * Resolves to the native [[graft.functions.WordShingles]] kernel
    * (registered by [[graft.GraftExtensions]]): the equivalent
    * `array_distinct(transform(...concat_ws...))` higher-order chain runs
    * interpreted and dominated dedup runtime.
    */
  def shingles(text: Column, k: Int = 3): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.functions.WordShingles(ColumnBridge.expression(text), k))
  }

  /** The xxhash64 of each word k-shingle, fused into one kernel call —
    * `transform(shingles(text, k), s => xxhash64(s))` without the
    * interpreted higher-order transform or the shingle strings ever
    * materializing ([[graft.functions.WordShingleHashes]], bit-identical
    * by `PropertySpec`). `sorted = true` is the ppjoin set shape
    * (`array_sort(array_distinct(...))` fused in as well).
    */
  def shingleHashes(text: Column, k: Int = 3,
      sorted: Boolean = false): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.WordShingleHashes(
      ColumnBridge.expression(text), k, sorted))
  }

  /** The shared per-document similarity frame for chaining dedup
    * strategies: (doc_id, lang, len_bucket, sh) — everything MinHash and
    * n-gram Jaccard need, nothing else (text is dropped; at corpus scale
    * it dwarfs the shingle sets). Returned CACHED (memory-and-disk):
    * materialize once, run several `*FromShingled` strategies against it,
    * then `unpersist()`. One source scan + one shingle-kernel pass total,
    * instead of one per strategy.
    */
  def shingled(documents: DataFrame, k: Int = 3): DataFrame =
    shingleProjection(documents, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** The one definition of the similarity projection, shared by the
    * cached [[shingled]] frame and the self-contained operators — so the
    * bucket width / shingle k can never drift between the two paths.
    */
  private[graft] def shingleProjection(documents: DataFrame, k: Int = 3): DataFrame =
    documents.select(col("doc_id"), col("lang"),
      // floor, not int-cast: Spark cast truncates but DuckDB cast rounds,
      // so the oracle mirrors floor() on both sides
      floor(size(split(col("text"), " ")) / 32).as("len_bucket"),
      shingles(col("text"), k).as("sh"))

  /** Exact dedup via hash aggregation on the normalized text: one shuffle
    * on the content key, keeping the smallest doc_id as canonical.
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("text_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  /** Incremental exact dedup — the steady-state corpus-maintenance shape:
    * admit a new batch only where its content is absent from the
    * already-ingested corpus. Keys are [[TextAnalysis.normalizeTextOn]]
    * hashes, so case/punctuation/digit/spacing variants of an existing
    * doc are rejected too.
    *
    * Scale asymmetry is the whole design: the corpus is 100 TB, the
    * batch is a day's crawl. Neither full side ever shuffles —
    *
    *  1. batch self-dedup: one hash-agg on the (small) batch;
    *  2. collision probe: the corpus is scanned ONCE with the batch's
    *     hash set broadcast as a left-semi probe (no corpus exchange,
    *     no corpus state);
    *  3. admission: batch anti-joins the (≤ batch-sized) collision set.
    *
    * The corpus-side probe output is bounded by the batch size, so the
    * expensive side contributes a scan, never a shuffle — the same probe
    * direction as [[decontaminateOn]].
    */
  def incrementalExact(corpus: DataFrame, batch: DataFrame): DataFrame = {
    val key = (df: DataFrame) => TextAnalysis.normalizeTextOn(df)
      .select(col("doc_id"), col("norm_md5"))
    val batchKeyed = key(batch)
    val selfDeduped = batchKeyed.groupBy(col("norm_md5"))
      .agg(min(col("doc_id")).as("doc_id"))
    val collided = key(corpus)
      .join(broadcast(selfDeduped.select(col("norm_md5"))),
        Seq("norm_md5"), "left_semi")
      .select(col("norm_md5")).distinct()
    selfDeduped.join(broadcast(collided), Seq("norm_md5"), "left_anti")
      .select(col("doc_id"), col("norm_md5"))
      .orderBy(col("doc_id"))
  }

  /** [[incrementalExact]] over the documents table, with doc_id ≡ 7
    * (mod 10) playing the incoming batch against the rest as corpus.
    */
  def incrementalExactDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    incrementalExact(
      docs.filter(col("doc_id") % 10 =!= 7),
      docs.filter(col("doc_id") % 10 === 7))
  }

  private val BandRows = 3
  private val Bands = 21 // 63 hashes; see minhashNearDup for the r/b math

  /** The 21 band keys of a shingle array, in band order: one generated
    * kernel call per row ([[graft.functions.MinhashBandKernel]]: 63
    * Kirsch–Mitzenmacher MinHash slots from two xxhash64 string hashes
    * per shingle, each 3-slot band xxhash64'd into its key). Docs sharing
    * any band key are candidates. Detection probability for Jaccard j is
    * 1-(1-j³)²¹: miss ≈ 1.5e-4 at j=0.7 (the verify threshold), ≈1e-12 at
    * j=0.9 — r=3 bands trade a few more spurious candidates (cheap, the
    * verify is exact) for near-total recall at the threshold itself,
    * where 4-row bands leave a ~1% deterministic hole.
    */
  private def bandKeys(sh: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.MinhashBands(
      ColumnBridge.expression(sh), Bands, BandRows))
  }

  /** The banding-recall curve of the SHIPPED LSH configuration
    * (b = 21 bands × r = 3 rows): for each true Jaccard level j, the
    * probability a near-dup pair becomes a candidate,
    * p = 1 − (1 − j³)²¹ — the planner that turns this file's "miss ≈
    * 1.5e-4 at j = 0.7" Scaladoc claims into a queryable artifact a
    * curation run signs off on before committing a corpus.
    *
    * Exactness without `pow`: libm exponentiation diverges in the last
    * ulp across engines, so j³ is j·j·j and (1−j³)²¹ is a fixed
    * square-and-multiply chain (y²,y⁴,y⁸,y¹⁶, then y¹⁶·y⁴·y) —
    * every step one IEEE multiply, mirrored operand-for-operand in the
    * DuckDB twin. 10 rows of pure math on a range spine; no data scan.
    */
  def bandingRecallCurve(spark: SparkSession): DataFrame = {
    val y = lit(1.0) - col("j") * col("j") * col("j")
    spark.range(50, 100, 5)
      .select((col("id") / lit(100.0)).as("j"))
      .withColumn("p_band", col("j") * col("j") * col("j"))
      .withColumn("y2", y * y)
      .withColumn("y4", col("y2") * col("y2"))
      .withColumn("y8", col("y4") * col("y4"))
      .withColumn("y16", col("y8") * col("y8"))
      .withColumn("miss", col("y16") * col("y4") * y)
      .select(col("j"), col("p_band"),
        (lit(1.0) - col("miss")).as("p_candidate"), col("miss"))
      .orderBy(col("j"))
  }

  /** MinHash-LSH near-duplicate detection with an exact n-gram-Jaccard
    * verify on the candidates. Output: (da, db, jaccard) pairs at or above
    * the threshold. Recall at the 0.7 threshold is 1-(1-0.7³)²¹ ≈ 0.99985
    * and ≈1-1e-12 at the planted-duplicate level (>=0.9), so the result
    * equals the brute-force oracle on any corpus whose near-threshold
    * pairs aren't pathologically dense.
    */
  def minhashNearDup(spark: SparkSession, dir: String,
      threshold: Double = 0.7): DataFrame =
    nearDupPairs(spark, dir, threshold)

  /** The session-memoized verified near-dup pair frame for the on-disk
    * corpus at `dir` — THE shared artifact of the dedup family. At least
    * ten query surfaces are views over this one frame (the graph family,
    * cluster/canonical resolution, the dup-source matrix, contrastive
    * triplets, split-leakage probes, the mix planner/apply pair, the
    * curation pipeline), and each re-deriving
    * shingles→signatures→banding→verify from scratch multiplies the
    * dominant corpus scan by the consumer count — the same
    * train-once/serve anti-pattern [[graft.ArtifactMemo]] exists to
    * kill, already closed for BM25/IVF/LM/dict artifacts. Trains at most
    * once per (session, dir, threshold); the pair frame is eagerly
    * lineage-cut (true near-dup volume, never corpus-sized), so later
    * consumers read materialized blocks instead of re-scanning the
    * corpus.
    *
    * The `*On` variants below stay fresh-compute: they exist for
    * arbitrary in-flight frames (specs, replicated stress corpora,
    * streaming batches) whose contents have no stable identity to key
    * on.
    */
  def nearDupPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.7): DataFrame =
    graft.ArtifactMemo.cached(spark, s"minhashpairs:$threshold:$dir") {
      minhashNearDupOn(Tables.documents(spark, dir), threshold)
        .cutLineage(eager = true)
    }

  /** Restrict a full-corpus verified pair frame to pairs whose BOTH
    * endpoints appear in `ids` (a one-column `doc_id` frame). This is
    * EXACT, not approximate: signatures and banding are per-document
    * functions of text alone, the candidate join and the exact-Jaccard
    * verify are per-pair, so for any subset S of an unmodified corpus,
    * pairs(S) == pairs(full) ∩ S×S. It lets pipelines that dedup a
    * FILTERED population (quality/decontamination survivors — filters,
    * never rewrites) reuse the memoized [[nearDupPairs]] artifact
    * instead of re-running the MinHash stage on the subset.
    *
    * Shape: two semi-joins of the (small, true-near-dup-volume) pair
    * frame against a narrow one-column id frame — AQE broadcasts the
    * pair side at any corpus scale; the id side contributes a narrow
    * scan, never a wide shuffle.
    */
  def restrictPairs(pairs: DataFrame, ids: DataFrame): DataFrame = {
    val i = ids.select(col("doc_id"))
    pairs
      .join(i.withColumnRenamed("doc_id", "da"), Seq("da"), "left_semi")
      .join(i.withColumnRenamed("doc_id", "db"), Seq("db"), "left_semi")
      .select(col("da"), col("db"), col("jaccard"))
  }

  /** Same, over any (doc_id, text) frame. */
  def minhashNearDupOn(documents: DataFrame, threshold: Double): DataFrame =
    minhashFromShingled(
      documents.select(col("doc_id"), shingles(col("text")).as("sh")),
      threshold)

  /** Same, over a pre-[[shingled]] frame — the chaining entry point:
    * [[minhashPairs]] over the frame signed from its `sh` column, with
    * the frame itself on both sides of the band join.
    */
  def minhashFromShingled(docs: DataFrame, threshold: Double): DataFrame =
    minhashFromShingledUnordered(docs, threshold)
      .orderBy(col("da"), col("db"))

  /** [[minhashFromShingled]] without the final (da, db) sort, for callers
    * that cut or aggregate the pairs anyway: the global sort costs a
    * range-sampling job plus a sort whose order nobody reads. The signed
    * frame is not cut: a corpus-sized cut would stay resident, and a
    * caller's cached `sh` frame stays the plan's only leaf
    * (`DedupChainSpec`).
    */
  private[graft] def minhashFromShingledUnordered(docs: DataFrame,
      threshold: Double): DataFrame =
    minhashPairs(minhashSigned(docs.select(col("doc_id"), col("sh")),
        col("sh")), None, withinBatch = true, threshold, probe = false)
      .select(col("da"), col("db"), col("jaccard"))

  /** Sorted distinct xxhash64 set of an `array<string>` column in one
    * generated kernel call ([[graft.functions.HashedSet]]) — replaces
    * the interpreted `array_sort(array_distinct(transform(sh, s =>
    * xxhash64(s))))` chain, bit-identical by `PropertySpec`.
    */
  private[graft] def hashedSet(sh: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.functions.HashedSet(ColumnBridge.expression(sh)))
  }

  /** The verify both set-similarity families share, over candidate rows
    * carrying two per-doc SORTED xxhash64 sets (`hsa`, `hsb`) and their
    * sizes (`na`, `nb`): `common` = |hsa ∩ hsb| by the codegen'd
    * two-pointer merge ([[graft.functions.SortedIntersectCount]]) and
    * `jaccard` = common / (na + nb − common), |∪| falling out of
    * set-semantic arrays; the sets are dropped. The merge replaced
    * `array_intersect`/`array_union` over the raw shingle strings, which
    * hash-build and materialize two scratch arrays per candidate pair
    * (sf1 replica corpus, pair-memo build: 21.5 s → 6.2 s). Same 8-byte
    * key contract and ~1e-9 deterministic collision caveat as
    * [[ngramJaccardPairs]].
    *
    * The kernel runs once per candidate pair: `common` comes out of a
    * one-element `explode`, and a threshold filter on a generated column
    * stays above the generator. Predicate pushdown would inline a
    * projected `common` into the join that brings `hsb`, running the
    * kernel in the join condition and again in the projection (PlanSpec).
    */
  private def verified(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val common = ColumnBridge.column(graft.functions.SortedIntersectCount(
      ColumnBridge.expression(col("hsa")), ColumnBridge.expression(col("hsb"))))
    pairs.withColumn("common", explode(array(common)))
      .drop("hsa", "hsb")
      .withColumn("jaccard",
        col("common") / (col("na") + col("nb") - col("common")))
  }

  /** Cross-source duplication matrix: near-dup PAIR counts per
    * unordered source pair — the corpus-governance view over
    * [[minhashNearDup]] ("src3 and src7 share 40% of their near-dups:
    * one mirrors the other; src5 mostly self-duplicates: templated
    * content"). Diagonal entries are within-source duplication;
    * off-diagonal entries are mirrors/syndication, each wanting a
    * different curation response (cap the template vs drop the
    * mirror).
    *
    * Shape: the pair frame is candidate-generation-bounded (true
    * near-dup volume, never n²); the doc → source map joins it on
    * doc_id — pairs are the small side, so AQE broadcasts them against
    * the corpus-sized map at any scale — and the matrix aggregation is
    * ≤ #sources² rows. Inherits [[minhashNearDup]]'s banding recall
    * (miss ≈ 1.5e-4 per pair at j = 0.7); deterministic on fixed data.
    */
  def dupSourceMatrix(spark: SparkSession, dir: String,
      threshold: Double = 0.7): DataFrame =
    dupSourceMatrixFromPairs(nearDupPairs(spark, dir, threshold),
      Tables.documents(spark, dir))

  /** [[dupSourceMatrix]] over a pre-computed verified pair frame —
    * the [[nearDupPairs]]-serving path.
    */
  def dupSourceMatrixFromPairs(pairFrame: DataFrame,
      docs: DataFrame): DataFrame = {
    val pairs = pairFrame.select(col("da"), col("db"))
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("da"), col("source").as("src_a")),
        "da")
      .join(src.select(col("doc_id").as("db"), col("source").as("src_b")),
        "db")
      .select(least(col("src_a"), col("src_b")).as("sa"),
        greatest(col("src_a"), col("src_b")).as("sb"))
      .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("sa"), col("sb"))
  }

  /** Cross-corpus MinHash-LSH join — the fuzzy twin of
    * [[incrementalExact]]: which incoming-batch documents are NEAR
    * duplicates (n-gram Jaccard ≥ threshold) of something already in the
    * corpus? Unlike [[minhashNearDupOn]]'s self-join, the two sides stay
    * distinct: candidates are batch-bucket ⋈ corpus-bucket collisions
    * only (no batch×batch or corpus×corpus pairs), and the exact verify
    * touches only collided pairs.
    *
    * Scale asymmetry: the corpus side contributes its 21 band keys per
    * document to ONE equi-join exchange — at steady state those keys are
    * a materialized artifact (build once, append per batch), so each
    * day's admission pays signatures for the batch plus a key-join,
    * never a corpus re-shingle. Same r/b recall math as
    * [[minhashNearDup]]: miss ≈ 1.5e-4 at j = 0.7.
    *
    * It is the [[minhashJoinFromIndex]] probe with the index frames
    * derived in memory: the batch is signed once and cut, the corpus
    * contributes [[minhashIndexFrames]] of its uncut signature. The
    * candidates are not broadcast: a batch here may be any size (with
    * the hint, `q_minhash_join` at sf0.1 on 4 cores took 1.03 s, not
    * 0.80 s).
    */
  def minhashJoinOn(batch: DataFrame, corpus: DataFrame,
      threshold: Double): DataFrame =
    batchCorpus(minhashPairs(signedCut(batch),
      Some(minhashIndexFrames(
        minhashSigned(corpus.select(col("doc_id"), col("text"))))),
      withinBatch = false, threshold, probe = false))

  /** A (doc_id, text) frame signed ([[minhashSigned]]) and cut without
    * its text, for the several branches that read it.
    */
  private def signedCut(docs: DataFrame): DataFrame =
    minhashSigned(docs.select(col("doc_id"), col("text"))).drop("text")
      .cutLineage()

  /** A (da, db, jaccard) pair frame of a batch ⋈ corpus join as the
    * cross-corpus joins emit it: (batch_id, corpus_id, jaccard), sorted.
    */
  private def batchCorpus(pairs: DataFrame): DataFrame =
    pairs.select(col("da").as("batch_id"), col("db").as("corpus_id"),
        col("jaccard"))
      .orderBy(col("batch_id"), col("corpus_id"))

  /** Materialize the corpus side of [[minhashJoinOn]] as an on-disk
    * admission index of two flat parquet directories:
    *
    *   - `path/sets` = (doc_id, hs, n): each doc's sorted xxhash64
    *     shingle set and its size, exactly what the verify reads (the
    *     [[writePpjoinIndex]] `sets/` shape);
    *   - `path/bands` = (band, h, doc_id): the doc's 21 LSH bucket keys,
    *     each writing task's rows sorted by (band, h).
    *
    * `bands/` is not partitioned by band: every non-empty doc has a key
    * in all 21 bands, so every probe reads every band and a per-band
    * directory would prune nothing while costing each append one file
    * per band.
    *
    * The corpus text is shingled ONCE ([[minhashSigned]], cut and read
    * by both writes). At 100 TB this is the difference between
    * "re-shingle + re-sign the corpus per admission batch" and "pay the
    * corpus pass once per index refresh"; each batch then probes two
    * precomputed frames.
    */
  def writeMinhashIndex(corpus: DataFrame, path: String): Unit = {
    val signed = signedCut(corpus)
    writeMinhashFrames(signed, path, "overwrite")
    graft.Materialize.release(signed)
  }

  /** (hs, n, keys) added to a (doc_id, …) frame from ONE shingle array
    * per row, by default one `word_shingles` call on `text`: `hs` is the
    * verify's sorted hashed set ([[hashedSet]]), `n` its size, `keys`
    * the 21 band keys in band order ([[bandKeys]]). Keys are per ROW: a
    * frame that repeats a doc_id gets one key set per row. A frame read
    * by more than one branch must be cut: each branch of an uncut plan
    * re-runs the kernels.
    */
  private[graft] def minhashSigned(docs: DataFrame,
      sh: Column = shingles(col("text"))): DataFrame =
    docs.withColumn("__mh_sh", sh)
      .withColumn("hs", hashedSet(col("__mh_sh")))
      .withColumn("keys", bandKeys(col("__mh_sh")))
      .withColumn("n", size(col("hs")))
      .drop("__mh_sh")

  /** The two frames every MinHash path joins and verifies against,
    * projected from a [[minhashSigned]] frame: (doc_id, hs, n) for
    * `sets/` and (band, h, doc_id) for `bands/` (`band` int, `h`
    * bigint: the on-disk [[writeMinhashIndex]] schema). Package-private
    * so the spec can pin that they read the batch alone.
    *
    * The keys explode OUTER, and the empty-set rows it keeps are dropped
    * above it: an inner explode of the `keys` column makes the optimizer
    * infer a `size(keys) > 0` filter, which over an uncut signature is
    * pushed below the projection as two more band-kernel calls per doc
    * (PlanSpec's kernel census).
    */
  private[operators] def minhashIndexFrames(
      signed: DataFrame): (DataFrame, DataFrame) =
    (signed.select(col("doc_id"), col("hs"), col("n")),
      signed.select(col("doc_id"),
          posexplode_outer(col("keys")).as(Seq("band", "h")))
        .filter(col("h").isNotNull)
        .select(col("band"), col("h"), col("doc_id")))

  /** Write a [[minhashSigned]] frame's sets and band keys into the
    * [[writeMinhashIndex]] layout at `path` under save `mode`. Both
    * writes read `signed`, so it should be a cut.
    */
  private[graft] def writeMinhashFrames(signed: DataFrame, path: String,
      mode: String): Unit = {
    val (sets, bands) = minhashIndexFrames(signed)
    sets.write.mode(mode).parquet(s"$path/sets")
    bands.sortWithinPartitions(col("band"), col("h"))
      .write.mode(mode).parquet(s"$path/bands")
  }

  /** Incrementally admit a batch into a materialized
    * [[writeMinhashIndex]] layout — the fuzzy-dedup twin of
    * [[Similarity.appendToIvfIndex]]: the batch's sets and band keys
    * land as new files in `sets/` and `bands/`; no existing file is
    * rewritten. Without this, admitting a batch at 100 TB means
    * refresh-by-rewrite: re-shingling the ENTIRE corpus to add a day's
    * documents. With it, the steady-state index lifecycle matches the
    * IVF family: build once, append per batch, rebuild only on
    * parameter change.
    *
    * Equivalence is structural: [[minhashJoinFromIndex]] reads the
    * union of all files under each layout dir, and both band hashing
    * and shingling are pure per-document functions — so probing an
    * appended index is identical to probing a rebuilt index over the
    * union corpus (spec-proved, `MinhashIndexSpec`). The append itself
    * scans ONLY the batch text, shingling it once (plan-proved).
    */
  def appendToMinhashIndex(batch: DataFrame, path: String): Unit = {
    requireMinhashSets(batch.sparkSession, path)
    val signed = signedCut(batch)
    writeMinhashFrames(signed, path, "append")
    graft.Materialize.release(signed)
  }

  /** An index with `bands/` but no `sets/` predates the `sets/` layout
    * (it stored `shingles/`): fail rather than probe or append half an
    * index.
    */
  private def requireMinhashSets(spark: SparkSession, path: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/bands")) ||
      fs.exists(new org.apache.hadoop.fs.Path(s"$path/sets")),
      s"MinHash index at $path has bands/ but no sets/: it was written " +
        "with the older shingles/ layout; rebuild it with " +
        "Dedup.writeMinhashIndex")
  }

  /** THE MinHash pair core, behind every MinHash path: verified near-dup
    * pairs of a [[minhashSigned]] frame against `stored` (sets, bands)
    * frames in the [[minhashIndexFrames]] shape — read from an index or
    * derived in memory — and, with `withinBatch`, against itself.
    * Candidates come from ONE band join of the frame's keys against its
    * own keys ∪ the stored keys; the [[verified]] side reads the frame's
    * `hs` and the other side's `sets/`, keeping only candidate ids.
    * `probe` broadcasts the candidates, which a streaming batch bounds
    * (no per-batch hash table grows with the index); the corpus
    * self-join and the in-memory join leave that join to the planner. Output (da, db, stored, jaccard):
    * `da` is a frame id; `db` is a stored id when `stored`, else a frame
    * id above `da`.
    */
  private def minhashPairs(signed: DataFrame,
      stored: Option[(DataFrame, DataFrame)], withinBatch: Boolean,
      threshold: Double, probe: Boolean): DataFrame = {
    val (sets, bands) = minhashIndexFrames(signed)
    val sides = (if (withinBatch) Seq((sets, bands) -> false) else Nil) ++
      stored.map(_ -> true)
    def others(frame: ((DataFrame, DataFrame)) => DataFrame): DataFrame =
      sides.map { case (f, st) => frame(f).withColumn("stored", lit(st)) }
        .reduce(_ union _).withColumnRenamed("doc_id", "db")
    val cands = bands.withColumnRenamed("doc_id", "da")
      .join(others(_._2), Seq("band", "h"))
      .filter(col("stored") || col("da") < col("db"))
      .select(col("da"), col("db"), col("stored"))
      .distinct()
      .join(sets.select(col("doc_id").as("da"), col("hs").as("hsa"),
        col("n").as("na")), "da")
    verified(others(_._1).select(col("db"), col("stored"),
        col("hs").as("hsb"), col("n").as("nb"))
      .join(if (probe) broadcast(cands) else cands, Seq("db", "stored")))
      .filter(col("jaccard") >= threshold)
      .select(col("da"), col("db"), col("stored"), col("jaccard"))
  }

  /** [[minhashPairs]] of a cut [[minhashSigned]] batch against the
    * stored index at `indexPath` (if any) and, with `withinBatch`,
    * against itself: the per-batch probe of the streaming gates. Stored
    * frames are read with pinned schemas, doc_id typed as the batch's;
    * nothing here shingles.
    */
  private[graft] def minhashProbe(signed: DataFrame, indexPath: Option[String],
      withinBatch: Boolean, threshold: Double): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}
    val idType = signed.schema("doc_id").dataType
    val stored = indexPath.map { p =>
      requireMinhashSets(signed.sparkSession, p)
      def read(dir: String, fields: (String, DataType)*) =
        Tables.pinned(signed.sparkSession, s"$p/$dir", fields: _*)
      (read("sets", "doc_id" -> idType, "hs" -> ArrayType(LongType),
        "n" -> IntegerType),
        read("bands", "band" -> IntegerType, "h" -> LongType,
          "doc_id" -> idType))
    }
    minhashPairs(signed, stored, withinBatch, threshold, probe = true)
  }

  /** [[minhashJoinOn]] with the corpus side served from a materialized
    * [[writeMinhashIndex]] layout: the batch is shingled and signed once
    * (one cut); the corpus contributes only stored band keys to the
    * candidate join and stored `sets/` to the verify — no corpus
    * re-shingle, no corpus signature pass (plan-proved in
    * `MinhashIndexSpec`). Results are identical to the in-memory path by
    * construction: both run [[minhashPairs]] on the same frame shapes.
    */
  def minhashJoinFromIndex(spark: SparkSession, batch: DataFrame,
      indexPath: String, threshold: Double): DataFrame =
    batchCorpus(minhashProbe(signedCut(batch), Some(indexPath),
      withinBatch = false, threshold))

  /** [[minhashJoinOn]] over the documents table, doc_id ≡ 7 (mod 10) as
    * the incoming batch against the rest as corpus (the
    * [[incrementalExactDocs]] split).
    */
  def minhashJoinDocs(spark: SparkSession, dir: String,
      threshold: Double = 0.7): DataFrame = {
    val docs = Tables.documents(spark, dir)
    minhashJoinOn(
      docs.filter(col("doc_id") % 10 === 7),
      docs.filter(col("doc_id") % 10 =!= 7), threshold)
  }

  /** N-gram Jaccard dedup without LSH: same verify metric, candidates
    * blocked on the cheap (lang, token-count bucket) key — a deterministic
    * blocking strategy for corpora where near-dups keep length and
    * language.
    *
    * Scale shape: instead of materializing every within-block pair and
    * intersecting two shingle arrays per pair (O(pairs · |sh|), the naive
    * formulation), explode each document's distinct shingles once, hash
    * them to 8-byte keys, and equi-join on (block, shingle-hash). The
    * shuffle carries one long per shingle, join output exists only where a
    * shingle is actually shared, and |∩| falls out of a codegen'd count
    * aggregation; |∪| = |a| + |b| − |∩|. Pairs sharing zero shingles —
    * almost all of them — are never formed. xxhash64 collisions could
    * overcount |∩| with probability ~(shingles-per-block)²/2⁶⁴ ≈ 1e-9 —
    * negligible and deterministic (same result every run/plan).
    */
  def ngramJaccardPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.7, maxDf: Option[Long] = None): DataFrame =
    ngramJaccardPairsOn(Tables.documents(spark, dir), threshold, maxDf)

  /** Same, over any (doc_id, lang, text) frame. */
  def ngramJaccardPairsOn(documents: DataFrame, threshold: Double,
      maxDf: Option[Long]): DataFrame =
    ngramJaccardFromShingled(shingleProjection(documents), threshold, maxDf)

  /** Same, over a pre-[[shingled]] frame — the chaining entry point. */
  def ngramJaccardFromShingled(shingledDocs: DataFrame, threshold: Double,
      maxDf: Option[Long]): DataFrame =
    blockedCommonCounts(shingledDocs, maxDf)
      .withColumn("jaccard",
        col("common") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("da"), col("db"), col("jaccard"))
      .orderBy(col("da"), col("db"))

  /** The shared (da, db, na, nb, common) frame behind the set-overlap
    * pair metrics (Jaccard, containment): within-block shingle-hash
    * equi-join + one count aggregation. One definition keeps every
    * metric consuming the SAME candidates and intersection counts.
    */
  private[graft] def blockedCommonCounts(shingledDocs: DataFrame,
      maxDf: Option[Long]): DataFrame = {
    val docs = shingledDocs.withColumn("n_sh", size(col("sh")))
    val exploded = docs
      .select(col("lang"), col("len_bucket"), col("doc_id"), col("n_sh"),
        explode(col("sh")).as("s"))
      .select(col("lang"), col("len_bucket"), col("doc_id"), col("n_sh"),
        xxhash64(col("s")).as("h"))
    // Stop-shingle cap for corpus scale: a shingle shared by df documents
    // joins into C(df,2) pairs, so boilerplate n-grams (license headers,
    // templates) quadratically dominate the join. Dropping shingles with
    // df > maxDf bounds per-shingle join fan-out; exact-jaccard parity
    // holds only with the cap off (the oracle-checked default).
    val ex = maxDf match {
      case None => exploded
      case Some(cap) =>
        val df = exploded.groupBy(col("h")).agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select(col("h"))
        exploded.join(broadcast(df), Seq("h"), "left_anti")
    }
    val a = ex.select(col("lang"), col("len_bucket"), col("h"),
      col("doc_id").as("da"), col("n_sh").as("na"))
    val b = ex.select(col("lang"), col("len_bucket"), col("h"),
      col("doc_id").as("db"), col("n_sh").as("nb"))
    a.join(b, Seq("lang", "len_bucket", "h"))
      .filter(col("da") < col("db"))
      .groupBy(col("da"), col("db"), col("na"), col("nb"))
      .agg(count(lit(1)).as("common"))
  }

  /** Near-containment pairs: |A∩B| / min(|A|,|B|) ≥ `threshold` over the
    * same blocked candidates as the Jaccard path. Containment is the
    * metric that catches QUOTE-EXPANSION near-dups — a document whose
    * text is another doc plus commentary scores low on Jaccard (the
    * union is large) but ~1.0 on containment, so a Jaccard-only dedup
    * keeps shipping the duplicated core. Same scale shape as
    * [[ngramJaccardFromShingled]] (shared candidate frame).
    */
  def containmentPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.9, maxDf: Option[Long] = None): DataFrame =
    containmentFromShingled(
      shingleProjection(Tables.documents(spark, dir)), threshold, maxDf)

  /** Same, over any (doc_id, lang, text) frame. */
  def containmentPairsOn(documents: DataFrame, threshold: Double,
      maxDf: Option[Long]): DataFrame =
    containmentFromShingled(shingleProjection(documents), threshold, maxDf)

  /** Same, over a pre-[[shingled]] frame — the chaining entry point. */
  def containmentFromShingled(shingledDocs: DataFrame, threshold: Double,
      maxDf: Option[Long]): DataFrame =
    blockedCommonCounts(shingledDocs, maxDf)
      .withColumn("containment",
        col("common") / least(col("na"), col("nb")))
      .filter(col("containment") >= threshold)
      .select(col("da"), col("db"), col("containment"))
      .orderBy(col("da"), col("db"))

  /** EXACT set-similarity self-join by prefix filtering (PPJoin-style,
    * Xiao et al. 2008, "Efficient Similarity Joins for Near Duplicate
    * Detection"): every pair with shingle-set Jaccard ≥ `tNum/tDen`, with
    * NO blocking-key assumption and NO LSH false negatives. The family's
    * third candidate-generation strategy, with a different contract from
    * its siblings:
    *
    *   - [[minhashNearDup]]: probabilistic candidates (≈1-1e-12 recall at
    *     planted-dup similarity) — cheapest per doc, the default.
    *   - [[ngramJaccardPairs]]: deterministic but HEURISTIC blocking on
    *     (lang, length-bucket) — misses cross-bucket pairs by design.
    *   - this: provably complete. Order every doc's shingles by ascending
    *     document frequency; a pair with Jaccard ≥ t MUST share a token
    *     inside the first |x| − ⌈t·|x|⌉ + 1 tokens of that order (prefix
    *     lemma: true overlap ≥ ⌈t/(1+t)·(|x|+|y|)⌉ ≥ ⌈t·|x|⌉, and two
    *     sets of sizes nx, ny with overlap ≥ α must collide within their
    *     first nx−α+1 / ny−α+1 tokens of any shared total order). Only
    *     prefix tokens generate candidates.
    *
    * Scale shape: the df-ascending order is the whole trick — boilerplate
    * shingles (license headers, templates), whose C(df,2) join fan-out is
    * what forces the blocked path's `maxDf` cap, sort to the END of every
    * document and almost never land in a prefix. Candidate volume is
    * bounded by rare-token postings without giving up exactness. One df
    * aggregation (map-side combinable, 8-byte keys), one per-doc
    * row_number window (partitioned by doc_id — never global), one
    * prefix-postings self-join with the symmetric size filter
    * t·max(nx,ny) ≤ min(nx,ny), then the exact intersection count runs
    * only on surviving candidates.
    *
    * The threshold is a RATIONAL (`tNum/tDen`, default 7/10), not a
    * double, because the guarantee dies on float rounding: prefix length
    * uses ⌈t·n⌉, and e.g. ceil(0.7·10) evaluates to 8 in binary doubles
    * (0.7·10 = 7.000000000000001) — one token short of the lemma's
    * requirement, a silent false-negative class. All gating arithmetic
    * (⌈t·n⌉ = (tNum·n + tDen − 1) div tDen, the size filter, the final
    * Jaccard test common·tDen ≥ tNum·(nx+ny−common)) is integer-exact;
    * the reported `jaccard` column is the same common/union division the
    * sibling operators emit.
    *
    * Same 64-bit shingle-hash keys as the rest of the family (~1e-9
    * deterministic collision odds, documented at
    * [[ngramJaccardPairs]]).
    */
  def ppjoinPairs(spark: SparkSession, dir: String,
      tNum: Long = 7L, tDen: Long = 10L): DataFrame =
    ppjoinPairsOn(Tables.documents(spark, dir), tNum, tDen)

  /** Same, over any (doc_id, lang, text) frame. */
  def ppjoinPairsOn(documents: DataFrame, tNum: Long, tDen: Long): DataFrame =
    ppjoinFromShingled(shingleProjection(documents), tNum, tDen)

  /** Same, over a pre-[[shingled]] frame — the chaining entry point:
    * [[ppjoinVerified]] with the frame's own prefix postings and sets on
    * both sides.
    */
  def ppjoinFromShingled(shingledDocs: DataFrame, tNum: Long,
      tDen: Long): DataFrame = {
    val t = Ratio(tNum, tDen)
    // per-doc hashed shingle SETS, one row per doc — the frame the df
    // count, the prefix derivation and the verify all read
    val sets = shingledDocs
      .select(col("doc_id"), hashedSet(col("sh")).as("hs"))
      .cutLineage()
    // eagerly cut: BOTH sides of the candidate self-join read this frame,
    // and without the cut Spark re-runs the df-aggregate + window subtree
    // per side (plan-audited — it doubled the operator's cost)
    val prefix = prefixUnder(docFreq(sets), sets, t).cutLineage(eager = true)
    ppjoinVerified((prefix, sets), (prefix, sets), t, self = true)
      .orderBy(col("da"), col("db"))
  }

  /** A ppjoin threshold: the rational `num/den`, checked to lie in
    * (0, 1] when it is built. Every ppjoin entry (the three joins, the
    * index write and append) builds one before it reads or writes
    * anything: `num > den` empties every prefix and `num = 0` passes
    * every candidate, so either would silently admit or drop everything.
    */
  private final case class Ratio(num: Long, den: Long) {
    require(num > 0 && den > 0 && num <= den,
      s"threshold must be a rational in (0, 1]: $num/$den")
  }

  /** Document frequency (h, df) of the tokens of a (doc_id, hs) frame. */
  private def docFreq(sets: DataFrame): DataFrame =
    sets.select(explode(col("hs")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))

  /** THE ppjoin prefix derivation: rank a (doc_id, hs) frame's tokens
    * under a df order and keep each doc's prefix postings (h, doc_id, n,
    * rnk). The order is (coalesce(df, 0), h): tokens `dfreq` has never
    * seen rank rarest-first. Any FIXED total order keeps the prefix
    * lemma valid — df only tunes selectivity — so a stored index's
    * frozen order stays correct as the indexed corpus drifts, the same
    * frozen-artifact contract as the IVF codebook.
    */
  private def prefixUnder(dfreq: DataFrame, sets: DataFrame,
      t: Ratio): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // prefix length ⌈t·n⌉ via integer ceil-div — see the float caveat at
    // ppjoinPairs. Double division then floor is exact here: numerator
    // < 2⁵³ and a true integer quotient is exactly representable, so the
    // correctly-rounded IEEE quotient never crosses an integer boundary
    val ceilTn = floor((lit(t.num) * col("n") + lit(t.den - 1)) / lit(t.den))
      .cast("long")
    sets.select(col("doc_id"), size(col("hs")).as("n"),
        explode(col("hs")).as("h"))
      .join(dfreq, Seq("h"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))))
      .filter(col("rnk") <= col("n") - ceilTn + lit(1))
      .select(col("h"), col("doc_id"), col("n"), col("rnk"))
  }

  /** THE ppjoin pair core, behind every ppjoin path. Each side is
    * (prefix postings (h, doc_id, n, rnk), sets (doc_id, hs)) under ONE
    * shared token order; the paths differ only in where the sides come
    * from. Prefix postings equi-join on `h` (`self` keeps da < db), the
    * symmetric size filter t·max(na, nb) ≤ min(na, nb) and the
    * positional filter prune the candidates, and the exact rational
    * test common·den ≥ num·(na + nb − common) decides on [[verified]]
    * pairs. Output (da, db, jaccard), unsorted.
    */
  private def ppjoinVerified(a: (DataFrame, DataFrame),
      b: (DataFrame, DataFrame), t: Ratio, self: Boolean): DataFrame = {
    def postings(side: (DataFrame, DataFrame), s: String): DataFrame =
      side._1.select(col("h"), col("doc_id").as(s"d$s"),
        col("n").as(s"n$s"), col("rnk").as(s"r$s"))
    def sets(side: (DataFrame, DataFrame), s: String): DataFrame =
      side._2.select(col("doc_id").as(s"d$s"), col("hs").as(s"hs$s"))
    // positional filter (the "P" in PPJoin): a valid pair's FIRST shared
    // token — necessarily inside both prefixes — admits overlap at most
    // 1 + min(suffix lengths past it), so a pair none of whose collisions
    // satisfies 1 + min(na−i, nb−j) ≥ α(a,b) = ⌈t/(1+t)·(na+nb)⌉ cannot
    // reach the threshold. Same rational-arithmetic discipline as the
    // prefix length. Measured at sf0.1: 104k → 33k surviving candidate
    // pairs (the verify stage carries two hash arrays per pair, so the
    // 3× cut halved the operator's wall time).
    val alpha = floor((lit(t.num) * (col("na") + col("nb"))
      + lit(t.num + t.den - 1)) / lit(t.num + t.den)).cast("long")
    val cands = postings(a, "a").join(postings(b, "b"), Seq("h"))
      .filter(!lit(self) || col("da") < col("db"))
      .filter(greatest(col("na"), col("nb")) * lit(t.num)
        <= least(col("na"), col("nb")) * lit(t.den))
      .filter(lit(1) + least(col("na") - col("ra"), col("nb") - col("rb"))
        >= alpha)
      .select(col("da"), col("db"), col("na"), col("nb"))
      .distinct()
    // exact verify on candidates only: joins move the COMPACT doc-keyed
    // sets (one row per doc), never the exploded postings — the exploded
    // formulation tempted the planner into broadcasting the corpus-sized
    // token frame, a plan that dies at real scale
    verified(cands.join(sets(a, "a"), "da").join(sets(b, "b"), "db"))
      .filter(col("common") * lit(t.den)
        >= lit(t.num) * (col("na") + col("nb") - col("common")))
      .select(col("da"), col("db"), col("jaccard"))
  }

  /** Cross-corpus EXACT set-similarity admission join — the
    * provably-complete twin of [[minhashJoinOn]]: which incoming-batch
    * docs have shingle-set Jaccard ≥ `tNum/tDen` against SOMETHING in
    * the corpus, with no LSH miss probability at all. The prefix lemma
    * only needs ONE total token order shared by both sides; document
    * frequency over the UNION provides it (df is a performance
    * heuristic — rare tokens up front — not a correctness input), so
    * the batch and corpus prefixes are directly joinable:
    * [[ppjoinVerified]] with batch prefix ⋈ corpus prefix (no
    * batch×batch, no corpus×corpus).
    */
  def ppjoinJoinOn(batch: DataFrame, corpus: DataFrame,
      tNum: Long = 7L, tDen: Long = 10L): DataFrame = {
    val t = Ratio(tNum, tDen)
    val hb = ppjoinSets(batch).cutLineage()
    val hc = ppjoinSets(corpus).cutLineage()
    // ONE shared order: union df, computed once and read by both prefix
    // derivations
    val dfreq = docFreq(hb.union(hc)).cutLineage(eager = true)
    batchCorpus(ppjoinVerified((prefixUnder(dfreq, hb, t), hb),
      (prefixUnder(dfreq, hc, t), hc), t, self = false))
  }

  /** [[ppjoinJoinOn]] over the documents table with the
    * [[minhashJoinDocs]] split (doc_id ≡ 7 mod 10 = the incoming batch).
    */
  def ppjoinJoinDocs(spark: SparkSession, dir: String,
      tNum: Long = 7L, tDen: Long = 10L): DataFrame = {
    val docs = Tables.documents(spark, dir)
    ppjoinJoinOn(
      docs.filter(col("doc_id") % 10 === 7),
      docs.filter(col("doc_id") % 10 =!= 7), tNum, tDen)
  }

  /** The hashed-set projection of a (doc_id, text) frame that the
    * cross-corpus ppjoin paths share.
    */
  private def ppjoinSets(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"),
      shingleHashes(col("text"), sorted = true).as("hs"))

  /** Materialize the corpus side of [[ppjoinJoinOn]] as an on-disk
    * EXACT admission index — the zero-miss sibling of
    * [[writeMinhashIndex]]: `sets/` = sorted hashed shingle sets for
    * the merge-kernel verify, `dfreq/` = the document-frequency order
    * FROZEN at build time, `prefix/` = (h, doc_id, n, rnk) prefix
    * postings clustered by h (tight row-group stats for probe scans).
    * One corpus pass: sets land first, everything derives from reading
    * them back.
    */
  def writePpjoinIndex(corpus: DataFrame, path: String,
      tNum: Long = 7L, tDen: Long = 10L): Unit = {
    val t = Ratio(tNum, tDen)
    val spark = corpus.sparkSession
    ppjoinSets(corpus).write.mode("overwrite").parquet(s"$path/sets")
    val sets = spark.read.parquet(s"$path/sets")
    docFreq(sets).write.mode("overwrite").parquet(s"$path/dfreq")
    writePrefix(prefixUnder(spark.read.parquet(s"$path/dfreq"), sets, t),
      path, "overwrite")
  }

  /** Write prefix postings into `path/prefix`, clustered by h. */
  private def writePrefix(prefix: DataFrame, path: String,
      mode: String): Unit =
    prefix.repartition(col("h")).sortWithinPartitions(col("h"), col("doc_id"))
      .write.mode(mode).parquet(s"$path/prefix")

  /** Admit a batch into a stored [[writePpjoinIndex]] layout: sets and
    * prefix postings append; `dfreq/` stays FROZEN (the order is a
    * correctness-free tuning input — recomputing it would also demand
    * rewriting every stored prefix, a full rebuild). Serving after an
    * append returns results IDENTICAL to a rebuild over the union
    * corpus (spec-proved): the exact verify decides membership, and it
    * is order-independent.
    */
  def appendToPpjoinIndex(batch: DataFrame, path: String,
      tNum: Long = 7L, tDen: Long = 10L): Unit = {
    val t = Ratio(tNum, tDen)
    val spark = batch.sparkSession
    val sets = ppjoinSets(batch).cutLineage(eager = true)
    sets.write.mode("append").parquet(s"$path/sets")
    writePrefix(prefixUnder(spark.read.parquet(s"$path/dfreq"), sets, t),
      path, "append")
    graft.Materialize.release(sets)
  }

  /** [[ppjoinJoinOn]] with the corpus side served from a stored
    * [[writePpjoinIndex]] layout: [[ppjoinVerified]] with the batch
    * shingled and ranked live under the index's frozen df order against
    * the stored `prefix/` postings and `sets/` — no corpus re-shingle
    * anywhere in the plan.
    */
  def ppjoinJoinFromIndex(spark: SparkSession, batch: DataFrame,
      indexPath: String, tNum: Long = 7L, tDen: Long = 10L): DataFrame = {
    val t = Ratio(tNum, tDen)
    val bs = ppjoinSets(batch).cutLineage()
    def stored(dir: String): DataFrame =
      spark.read.parquet(s"$indexPath/$dir")
    batchCorpus(ppjoinVerified((prefixUnder(stored("dfreq"), bs, t), bs),
      (stored("prefix"), stored("sets")), t, self = false))
  }

  /** Duplicated-span coverage (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better", §4 "dup fraction"): per document,
    * the fraction of its distinct word trigrams that also occur in at
    * least one OTHER document — the per-doc signal that drives span-level
    * (rather than whole-doc) dedup decisions and boilerplate audits.
    *
    * Scale shape: one shingle-kernel pass + explode, one map-side
    * combinable document-frequency count keyed on the 8-byte xxhash64 of
    * the shingle (¼ the shuffle width of the raw trigram string), one
    * equi-join back, one per-doc aggregation. Everything is linear in
    * total shingle count — no pair formation, unlike the Jaccard path —
    * so boilerplate-heavy corpora cost the same as clean ones. The
    * 64-bit key admits the same ~1e-9 deterministic collision odds the
    * Jaccard path documents; a collision here could overcount one doc's
    * df by 1.
    */
  def dupSpanCoverage(spark: SparkSession, dir: String): DataFrame =
    dupSpanCoverageOn(Tables.documents(spark, dir))

  /** Same, over any (doc_id, text) frame. */
  def dupSpanCoverageOn(documents: DataFrame): DataFrame = {
    val sh = documents
      .select(col("doc_id"), explode(shingleHashes(col("text"))).as("h"))
    // shingles dedup within a doc, so count(*) per h == document
    // frequency (docs containing the trigram)
    val df = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    sh.join(df, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("df") >= 2, 1)).as("n_dup"))
      .select(col("doc_id"), col("n_shingles"), col("n_dup"),
        (col("n_dup") / col("n_shingles")).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** Duplicated-span REMOVAL — the acting counterpart of
    * [[dupSpanCoverage]] (Lee et al. 2021's ExactSubstr policy, word
    * k-grams standing in for the suffix-array substrings): drop from each
    * document every token position covered by a k-gram that (a) occurs in
    * at least `minDf` distinct documents and (b) first occurs (by min
    * doc_id) in an EARLIER document. The earliest holder keeps its copy,
    * so every duplicated span survives exactly once in the corpus and
    * later documents keep only their novel text. Within-document repeats
    * are untouched (that is [[graft.operators.TextAnalysis.repetitionScore]]'s
    * domain). Output: (doc_id, clean_text, n_kept, n_dropped).
    *
    * Scale shape: one narrow positional-gram explode, one map-side
    * combinable min-doc aggregation on the 8-byte gram hash (the
    * distinct-doc df test is implied by `mind < doc_id` at the default
    * threshold — see [[losingOccurrences]]), one equi-join back, and a
    * covered-position aggregation whose volume is bounded by DUPLICATED
    * gram occurrences only — clean corpora shuffle almost nothing in
    * the final stage. Reassembly is a narrow
    * higher-order filter over the original token array joined with its
    * doc's covered-position set; no global sort, no pair formation.
    * Keep-first is decided by min(doc_id) — deterministic under any
    * partitioning, retries, or AQE re-plans. Not idempotent by design:
    * removal creates new token adjacencies, so a second pass can find new
    * corpus-wide k-grams (same as the reference policy).
    */
  def removeDupSpans(spark: SparkSession, dir: String, k: Int = 3,
      minDf: Int = 2): DataFrame =
    removeDupSpansOn(Tables.documents(spark, dir), k, minDf)

  /** The losing occurrences of duplicated windows — the (doc_id, start)
    * rows both span-removal operators drop positions for. For the
    * default gate (minDf ≤ 2) the distinct-doc test is IMPLIED:
    * `mind < doc_id` already witnesses an earlier DISTINCT holder, so
    * the stats aggregation is a map-side-combinable `min` only — one
    * keyed exchange whose payload collapses to one row per (gram,
    * partition). The general gate (minDf > 2) needs the real distinct
    * count, which plans as the two-exchange distinct-aggregate expansion
    * over near-gram volume; it exists for callers that raise the
    * threshold, never for the declared queries.
    */
  private def losingOccurrences(grams: DataFrame, minDf: Int): DataFrame =
    if (minDf <= 2) {
      val stats = grams.groupBy(col("h")).agg(min(col("doc_id")).as("mind"))
      grams.join(stats, "h").filter(col("mind") < col("doc_id"))
    } else {
      val stats = grams.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("df"),
          min(col("doc_id")).as("mind"))
      grams.join(stats, "h")
        .filter(col("df") >= minDf && col("mind") < col("doc_id"))
    }

  /** Same, over any (doc_id, text) frame. */
  def removeDupSpansOn(documents: DataFrame, k: Int = 3,
      minDf: Int = 2): DataFrame = {
    val d = documents.select(col("doc_id"),
      split(col("text"), " ").as("arr"))
    // positional k-grams (doc_id, start, h): docs shorter than k
    // contribute none and fall through the left join unchanged
    // positional gram hashes via the generated [[graft.functions
    // .HashLadder]] kernel (doublings = 0 ⇒ plain k-gram hashes) — same
    // (start, h) rows as the interpreted transform+struct explode it
    // replaces, one kernel call per row instead of per-gram lambda trips
    import org.apache.spark.sql.graft.ColumnBridge
    val hk = ColumnBridge.column(graft.functions.HashLadder(
      ColumnBridge.expression(col("arr")), k, 0))
    val grams = d.filter(size(col("arr")) >= k)
      .select(col("doc_id"), posexplode(hk).as(Seq("start", "h")))
    // covered positions, only for losing occurrences of duplicated grams
    val cov = losingOccurrences(grams, minDf)
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + (k - 1))).as("pos"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("cov"))
    d.join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("arr"),
        coalesce(col("cov"), array().cast("array<int>")).as("cov"))
      .select(col("doc_id"),
        expr("concat_ws(' ', filter(arr, (t, i) -> NOT array_contains(cov, i)))")
          .as("clean_text"),
        (size(col("arr")) - size(col("cov"))).as("n_kept"),
        size(col("cov")).as("n_dropped"))
      .orderBy(col("doc_id"))
  }

  /** Variable-length duplicated-span removal by HASH DOUBLING — the
    * [[removeDupSpansOn]] policy at the length threshold Lee et al.
    * 2021's ExactSubstr actually uses (≥ L tokens, their §4 uses 50),
    * instead of "any shared k-gram": a base pass hashes `base`-token
    * windows, then `doublings` rounds each combine a window's hash
    * with the hash `len` positions to its right —
    * h_{j+1}(start) = hash(h_j(start), h_j(start+len_j)) — doubling
    * the represented length per round, so an L = base·2^doublings
    * window costs log(L/base) equi-joins rather than hashing L-token
    * strings directly (L× the bytes through the shuffle). A document
    * position is dropped iff covered by some L-window that occurs in
    * ≥ `minDf` docs with an earlier (min doc_id) holder — overlapping
    * windows tile a longer duplicated run completely, so verbatim
    * boilerplate of ANY length ≥ L is removed as one span, while
    * short organic phrase overlaps (< L tokens) are kept — exactly
    * the two cases the fixed-k operator gets wrong (spec-pinned).
    *
    * Scale shape: the doubling ladder runs INSIDE each document's
    * token array (h_{j+1}[i] = xxhash64(h_j[i], h_j[i+len_j]) as a
    * per-row array transform) — n·log(L/base) hash combines with zero
    * shuffles, where the former (doc_id, start) self-equi-join
    * formulation shuffled full gram volume once per round; only the
    * final level's windows explode. Stats, covered positions (bounded
    * by duplicated occurrences only), and reassembly are the fixed-k
    * operator's tail verbatim. Keyed on 8-byte hashes end to end; the
    * oracle twin keys on the raw L-token window (same ~1e-9
    * deterministic collision caveat).
    */
  def removeDupSpansMultiLength(spark: SparkSession, dir: String,
      base: Int = 4, doublings: Int = 2, minDf: Int = 2): DataFrame =
    removeDupSpansMultiLengthOn(Tables.documents(spark, dir), base,
      doublings, minDf)

  /** Same, over any (doc_id, text) frame. */
  def removeDupSpansMultiLengthOn(documents: DataFrame, base: Int = 4,
      doublings: Int = 2, minDf: Int = 2): DataFrame = {
    require(base >= 1 && doublings >= 0,
      s"need base >= 1 and doublings >= 0, got $base/$doublings")
    val winLen = base << doublings
    val d = documents.select(col("doc_id"),
      split(col("text"), " ").as("arr"))
    // The hash ladder runs entirely inside each document's token array
    // ([[graft.functions.HashLadder]] — one generated kernel call per
    // row): level 0 hashes the base-grams, and each doubling maps index
    // i to xxhash64(h[i], h[i + len]) — the SAME combine the former
    // (doc_id, start) self-equi-join computed, but as narrow per-row
    // work, so the `doublings` rounds cost ZERO shuffles and the only
    // explode emits the FINAL level's T − L + 1 windows (the join
    // formulation shuffled full gram volume per round and exploded
    // T − base + 1 rows up front). Docs shorter than winLen contribute
    // no windows either way — the filter just says so before the ladder
    // instead of letting the joins shrink them away.
    import org.apache.spark.sql.graft.ColumnBridge
    val hs = ColumnBridge.column(graft.functions.HashLadder(
      ColumnBridge.expression(col("arr")), base, doublings))
    val lvl = d.filter(size(col("arr")) >= winLen)
      .select(col("doc_id"), posexplode(hs).as(Seq("start", "h")))
    val cov = losingOccurrences(lvl, minDf)
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + (winLen - 1)))
          .as("pos"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("cov"))
    d.join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("arr"),
        coalesce(col("cov"), array().cast("array<int>")).as("cov"))
      .select(col("doc_id"),
        expr("concat_ws(' ', filter(arr, (t, i) -> NOT array_contains(cov, i)))")
          .as("clean_text"),
        (size(col("arr")) - size(col("cov"))).as("n_kept"),
        size(col("cov")).as("n_dropped"))
      .orderBy(col("doc_id"))
  }

  /** Exact duplicate-LINE removal corpus-wide — the C4 "repeated
    * three-sentence span" / Dolma duplicate-paragraph rule at line
    * granularity, the curation pass that runs BEFORE fuzzy dedup in a
    * real pipeline (boilerplate headers, navigation, license blocks
    * repeat verbatim across pages): split each document on '\n', hash
    * every non-blank line, and drop every occurrence of a line that
    * appears 2+ times in the corpus EXCEPT the first — keep-first =
    * min (doc_id, line index), lexicographic, so the decision is
    * deterministic under any partitioning, retry, or AQE re-plan.
    * Within-doc repeats of a duplicated line collapse to the keeper
    * too (the count is occurrences, not distinct docs). Blank lines
    * are document structure, not content — never counted, never
    * dropped. Output: (doc_id, clean_text, n_lines, n_dropped).
    *
    * Scale shape (the [[removeDupSpansOn]] machinery one granularity
    * up): one posexplode, one map-side-combinable (count,
    * min-occurrence) aggregation keyed on the 8-byte xxhash64 of the
    * line — not the line text, ¼ the shuffle width, same ~1e-9
    * deterministic collision caveat the span family documents — one
    * equi-join back whose surviving volume is bounded by DUPLICATED
    * line occurrences only (clean corpora shuffle almost nothing into
    * the dropped-position stage), and a narrow higher-order filter
    * reassembly. No pair formation, no data-sized window.
    */
  def lineDedup(spark: SparkSession, dir: String): DataFrame =
    lineDedupOn(wrapLines(Tables.documents(spark, dir)))

  /** Deterministic multi-line view of a single-line corpus: each doc's
    * words re-wrapped into lines of `width` tokens. The fixture
    * adapter this table needs to exercise line dedup (its synthetic
    * texts carry no '\n'), the same role `text.cast("binary")` plays
    * for the media family — planted duplicate documents become
    * duplicate LINES, so the corpus-wide keep-first rule does real
    * work. Mirrored verbatim in the q_line_dedup oracle twin.
    */
  private[graft] def wrapLines(docs: DataFrame, width: Int = 10): DataFrame = {
    // one generated kernel call per document
    // ([[graft.functions.WrapLines]]) — bit-identical to the interpreted
    // `concat_ws("\n", transform(sequence(0, (size(w)-1) div width), i ->
    // concat_ws(" ", slice(w, i*width+1, width))))` chain over
    // `w = split(text, " ")` (PropertySpec pins the equivalence); the
    // oracle twin keeps the declarative formulation verbatim
    import org.apache.spark.sql.graft.ColumnBridge
    docs.select(col("doc_id"),
      ColumnBridge.column(graft.functions.WrapLines(
        ColumnBridge.expression(col("text")), width)).as("text"))
  }

  /** [[lineDedup]] over any (doc_id, text) frame with '\n' separators. */
  def lineDedupOn(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"),
      split(coalesce(col("text"), lit("")), "\n").as("arr"))
    val lines = d
      .select(col("doc_id"), posexplode(col("arr")).as(Seq("idx", "line")))
      .filter(length(col("line")) > 0)
      .select(col("doc_id"), col("idx"), xxhash64(col("line")).as("h"))
    // min over the (doc_id, idx) struct = lexicographic keep-first;
    // both aggregates are map-side combinable partial min/count
    val stats = lines.groupBy(col("h"))
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("idx"))).as("keeper"))
    val dropped = lines.join(stats, "h")
      .filter(col("n_occ") >= 2 && !(col("doc_id") === col("keeper.doc_id")
        && col("idx") === col("keeper.idx")))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("idx"))).as("drp"))
    d.join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"), col("arr"),
        coalesce(col("drp"), array().cast("array<int>")).as("drp"))
      .select(col("doc_id"),
        expr("concat_ws('\\n', filter(arr, (l, i) -> " +
          "NOT array_contains(drp, i)))").as("clean_text"),
        size(col("arr")).as("n_lines"),
        size(col("drp")).as("n_dropped"))
      .orderBy(col("doc_id"))
  }

  /** Bounded edit-distance near-dup pairs, candidate-generation-first:
    * candidates are same-(lang, len-bucket) pairs sharing ≥ `minShared`
    * of the smaller doc's distinct trigrams (the [[blockedCommonCounts]]
    * frame — pairs sharing nothing are never formed), and only those
    * run the per-pair DP. The DP is Spark's THRESHOLDED kernel
    * (`levenshtein(l, r, k)`), which early-abandons at distance >
    * `maxEdits` — O(maxEdits·len) per pair, not O(len²) — and returns
    * −1 for abandoned pairs, so kept rows (dist ≤ maxEdits, normalized
    * similarity ≥ `minSim`) carry the EXACT distance. The
    * character-level verify catches small in-place edits (typo fixes,
    * date stamps) that token-level Jaccard scores identically.
    *
    * The shingle gate is part of the operator's DEFINITION (the oracle
    * applies the same gate, so both engines compute identical results);
    * semantically it costs nothing real — a pair within `maxEdits`
    * character edits shares nearly all trigrams, while an all-pairs DP
    * inside blocks is the quadratic trap every other operator here
    * avoids (measured: the ungated formulation ran minutes at 50k docs;
    * this one is bounded by true-near-dup density).
    */
  def editDistancePairs(spark: SparkSession, dir: String,
      maxEdits: Int = 64, minShared: Double = 0.5,
      minSim: Double = 0.6): DataFrame =
    editDistancePairsOn(Tables.documents(spark, dir), maxEdits, minShared,
      minSim)

  /** Same, over any (doc_id, lang, text) frame. `maxDf` is the same
    * stop-shingle cap as [[ngramJaccardPairs]]' — it bounds the
    * CANDIDATE stage's per-shingle fan-out; the DP verify and the sim
    * threshold are unchanged, so the cap can only drop pairs whose
    * every shared shingle is boilerplate (df > cap), never admit one.
    */
  def editDistancePairsOn(documents: DataFrame, maxEdits: Int = 64,
      minShared: Double = 0.5, minSim: Double = 0.6,
      maxDf: Option[Long] = None): DataFrame = {
    val cand = blockedCommonCounts(shingleProjection(documents), maxDf)
      .filter(col("common") / least(col("na"), col("nb")) >= minShared)
      .select(col("da"), col("db"))
    val ta = documents.select(col("doc_id").as("da"), col("text").as("ta"))
    val tb = documents.select(col("doc_id").as("db"), col("text").as("tb"))
    cand.join(ta, "da").join(tb, "db")
      .select(col("da"), col("db"),
        levenshtein(col("ta"), col("tb"), maxEdits).as("dist"),
        greatest(length(col("ta")), length(col("tb"))).as("mx"))
      .filter(col("dist") >= 0 &&
        lit(1.0) - col("dist") / col("mx") >= minSim)
      .select(col("da"), col("db"), col("dist"),
        (lit(1.0) - col("dist") / col("mx")).as("sim"))
      .orderBy(col("da"), col("db"))
  }

  /** Resolve near-duplicate PAIRS into duplicate CLUSTERS: connected
    * components over the minhash near-dup graph, each node labeled with
    * the smallest doc_id reachable from it (the canonical survivor).
    * Pairs alone can't drive dedup — A≈B and B≈C must retire B AND C,
    * which needs the transitive closure.
    */
  def dedupClusters(spark: SparkSession, dir: String,
      threshold: Double = 0.7): DataFrame =
    clustersFromPairs(
      minhashNearDup(spark, dir, threshold).select(col("da"), col("db")))

  /** Connected components over an undirected edge list (da, db) → one
    * (doc_id, cluster_id) row per node that appears in any pair, each
    * node labeled with the smallest id in its component.
    *
    * Two paths, chosen by input size. The pair list is cut and counted
    * once; if it fits under `spark.sql.autoBroadcastJoinThreshold` (row
    * count × Spark's per-row size estimate), it is collected and solved
    * on the driver with a union-find over primitive arrays, and the
    * result is a local frame already sorted by doc_id. That is the size
    * at which the loop below would broadcast its pair-derived frames
    * every round anyway, so the pairs travel through the driver either
    * way; a threshold of -1 (broadcast off) always runs the loop. Ids
    * other than int or bigint also take the loop.
    *
    * The loop is min-label propagation WITH pointer doubling. Each round
    * does two things: (1) neighbor hop — every node takes the min of its
    * own label and its neighbors' labels; (2) pointer jump — every node
    * then replaces its label with its LABEL'S label. Labels are always
    * node ids (they start as own-id and only ever move down via min over
    * node ids), so the jump is a self-join of the label frame. The hop
    * alone converges in O(component diameter) rounds — fine for dense
    * near-dup clusters, but an adversarial chain A≈B≈C≈… of length d
    * would take d rounds. The jump halves the remaining label-to-root
    * distance each round, so the fixpoint arrives in O(log d) rounds
    * regardless of shape (the classic pointer-doubling argument; cf.
    * Kiveris et al., "Connected Components in MapReduce and Beyond").
    * Per-round cost: one edge join + one min-aggregate (map-side
    * combinable) + one label self-join. `localCheckpoint` truncates
    * lineage per round (same rationale as [[Similarity.kmeansCodebook]]);
    * the convergence check rides on the checkpoint materialization
    * instead of a second pass.
    *
    * A NULL endpoint gives both paths the same answer: the non-NULL
    * endpoint is a node, a NULL node appears only when some pair pairs
    * it with a non-NULL id, and then carries the smallest label among
    * those ids' components; (NULL, NULL) pairs add nothing.
    */
  def clustersFromPairs(pairs: DataFrame): DataFrame =
    clustersFromPairsCounted(pairs)._1

  /** Contrastive training triplets mined from the dedup structure:
    * every verified near-dup pair is an (anchor, positive) example —
    * the free supervision a curation run already computed — and each
    * gets a deterministic negative — the first 52 bits of
    * `md5(da|db)` taken mod n_docs, the same hash-draw idiom the
    * sampling family uses ([[Aggregates.hexFrac]]) — checked against
    * the pair's connected component (`neg_ok` = the negative is NOT in
    * the anchor's dup cluster; consumers drop or re-roll the rare
    * false rows — collision odds are cluster/corpus). A hash draw
    * instead of rand() keeps the triplet set reproducible across
    * runs/partitionings — an embedding-training epoch re-materializes
    * bit-identically — and, unlike the linear-combination draw it
    * replaced (`da·31 + db·17`, whose int64 product silently wraps
    * NEGATIVE for ids past ~2⁶², making neg_id unmatchable), 52 bits
    * can never overflow, so the draw is engine-portable at any id
    * range.
    *
    * Scale: triplet volume is the verified pair volume (candidate-
    * bounded by the shared MinHash stage); the negative needs one
    * broadcast scalar, one existence join, and two cluster lookups on
    * pair-sized frames. The pair frame is cut once and feeds both the
    * clustering and the triplet assembly.
    */
  def contrastivePairs(spark: SparkSession, dir: String,
      threshold: Double = 0.7): DataFrame =
    contrastivePairsFromPairs(nearDupPairs(spark, dir, threshold),
      Tables.documents(spark, dir))

  /** [[contrastivePairs]] over any documents-shaped frame. */
  def contrastivePairsOn(docs: DataFrame,
      threshold: Double = 0.7): DataFrame =
    contrastivePairsFromPairs(
      minhashNearDupOn(docs, threshold).cutLineage(eager = true), docs)

  /** [[contrastivePairs]] over a pre-MATERIALIZED verified pair frame
    * (the memoized [[nearDupPairs]] artifact, or a caller's own cut) —
    * the frame feeds both the clustering loop and the triplet assembly,
    * so an unmaterialized input would recompute the MinHash stage per
    * consumer.
    */
  def contrastivePairsFromPairs(p: DataFrame, docs: DataFrame): DataFrame = {
    val clusters = clustersFromPairs(p)
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    // LEFT existence join: a modular draw that misses the id space
    // (sparse / non-zero-based ids) flags the triplet (neg_ok = false)
    // for the consumer to re-roll — it must never silently DROP a
    // verified (anchor, positive) pair
    p.crossJoin(broadcast(nd))
      .withColumn("neg_id",
        conv(substring(md5(concat_ws("|", col("da"), col("db"))
          .cast("binary")), 1, 13), 16, 10).cast("bigint") % col("n_docs"))
      .join(docs.select(col("doc_id").as("neg_id"),
        lit(1).as("neg_exists")), Seq("neg_id"), "left")
      .join(clusters.select(col("doc_id").as("da"),
        col("cluster_id").as("ca")), Seq("da"))
      .join(clusters.select(col("doc_id").as("neg_id"),
        col("cluster_id").as("cn")), Seq("neg_id"), "left")
      .select(col("da"), col("db"), col("neg_id"),
        (col("neg_exists").isNotNull
          && (col("cn").isNull || col("cn") =!= col("ca"))).as("neg_ok"))
      .orderBy(col("da"), col("db"))
  }

  /** [[clustersFromPairs]] plus the number of loop rounds it took (0 when
    * the pair list was empty or solved on the driver) — exposed so specs
    * can assert the O(log d) convergence bound on chain graphs.
    */
  private[graft] def clustersFromPairsCounted(
      pairs: DataFrame): (DataFrame, Int) = {
    // materialize the pair list BEFORE mirroring it: the union references
    // `pairs` twice, and without this the whole upstream candidate
    // pipeline (LSH + verify) would run once per branch. The count is
    // the cut's materializer, and an empty list (a clean batch) returns
    // here as the empty projection of that one cut, with no rounds run
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val p = pairs.cutLineage()
    val nPairs = graft.Materialize.count(p)
    if (nPairs == 0)
      return (p.select(col("da").as("doc_id"), col("db").as("cluster_id")), 0)
    val mirrored = p.select(col("da").as("a"), col("db").as("b"))
      .union(p.select(col("db").as("a"), col("da").as("b")))
    val node = mirrored.schema("a")
    val ends = p.select(col("da"), col("db"))
    val rowBytes = org.apache.spark.sql.catalyst.plans.logical
      .statsEstimation.EstimationUtils
      .getSizePerRow(ends.queryExecution.analyzed.output)
    val threshold = p.queryExecution.sparkSession.sessionState.conf
      .autoBroadcastJoinThreshold
    if (Seq(IntegerType, LongType).contains(node.dataType) &&
        BigInt(nPairs) * rowBytes <= threshold) {
      val local = componentsOnDriver(ends, node)
      graft.Materialize.release(p)
      return (local, 0)
    }
    val edges = mirrored.cutLineage(eager = true)
    // LAZY local checkpoints inside the loop: the convergence sum below
    // is then also the materializer, so no round pays a separate
    // eager-checkpoint job. Lineage still truncates every round — the
    // checkpoint lands when the sum's job finishes. A round still runs
    // several jobs (6 to 9 measured on the pairs of a few hundred docs):
    // making the cut runs the round's shuffle map stages and broadcasts
    // (AQE executes them when the cut's RDD is built), then the sum
    // runs one
    var labels = edges.select(col("a").as("n")).distinct()
      .withColumn("lbl", col("n"))
      .cutLineage()
    // Convergence detection rides on the monotone-min invariant: labels
    // only ever decrease, so the label sum strictly decreases on every
    // non-fixpoint round and is unchanged exactly at the fixpoint. One
    // narrow global aggregate over the just-checkpointed frame replaces
    // a per-round shuffle join against the previous labels. DECIMAL(38,0)
    // keeps the sum exact out to ~10²⁶ node-ids-times-rows — far past any
    // corpus (int64 would overflow at ~10⁹ docs with 10¹²-range ids).
    // The NULL node is left out of the sum: its label rises from NULL on
    // its first hop, which could cancel a decrease elsewhere and stop
    // the loop early, and since no join leads out of it the other nodes
    // reach their fixpoint without it (its own label is then settled in
    // the same round). One RDD fold, one job (as Materialize.count):
    // `agg(sum).head` plans a partial-aggregate shuffle and pays a map
    // job plus a result job
    def lblSum(df: DataFrame): java.math.BigDecimal =
      df.filter(col("n").isNotNull)
        .select(col("lbl").cast("decimal(38,0)")).queryExecution.toRdd
        .map(r => if (r.isNullAt(0)) java.math.BigDecimal.ZERO
          else r.getDecimal(0, 38, 0).toJavaBigDecimal)
        .fold(java.math.BigDecimal.ZERO)(_ add _)
    var prevSum = lblSum(labels)
    var converged = false
    var rounds = 0
    while (!converged) {
      rounds += 1
      val viaNeighbor = edges.join(labels, edges("b") === labels("n"))
        .select(edges("a").as("n"), col("lbl"))
      val hopped = labels.union(viaNeighbor)
        .groupBy(col("n")).agg(min(col("lbl")).as("lbl"))
      // pointer jump: lbl := label(lbl). Every label is a node id, so the
      // inner join loses nothing; label(lbl) <= lbl by the monotone-min
      // invariant, least() just spells the invariant out. The two uses of
      // `hopped` are the same subplan → one exchange, reused.
      val parents = hopped
        .select(col("n").as("pn"), col("lbl").as("plbl"))
      val next = hopped.join(parents, hopped("lbl") === parents("pn"))
        .select(hopped("n").as("n"),
          least(hopped("lbl"), col("plbl")).as("lbl"))
        .cutLineage()
      val s = lblSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      // `next` landed with the sum's job, so the round's input is dead
      graft.Materialize.release(labels)
      labels = next
    }
    Seq(p, edges).foreach(graft.Materialize.release)
    (labels.select(col("n").as("doc_id"), col("lbl").as("cluster_id"))
      .orderBy(col("doc_id")), rounds)
  }

  /** [[clustersFromPairs]] for a pair list small enough to collect: one
    * job ships each partition's endpoints as primitive arrays, and a
    * union-find over the sorted distinct ids (an int parent array, the
    * smaller root always wins, so a root is its component's smallest id)
    * labels every node. The rows come back sorted by doc_id in a local
    * frame typed like the loop's output, so consumers see exact stats.
    */
  private def componentsOnDriver(ends: DataFrame,
      node: org.apache.spark.sql.types.StructField): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    // per pair: endpoint values (0 for NULL) and a NULL mask, bit 0 for
    // da and bit 1 for db
    val parts = ends.select(col("da").cast("bigint"), col("db").cast("bigint"))
      .queryExecution.toRdd.mapPartitions { rows =>
        val a = Array.newBuilder[Long]
        val b = Array.newBuilder[Long]
        val mask = Array.newBuilder[Byte]
        rows.foreach { r =>
          a += (if (r.isNullAt(0)) 0L else r.getLong(0))
          b += (if (r.isNullAt(1)) 0L else r.getLong(1))
          mask += ((if (r.isNullAt(0)) 1 else 0) |
            (if (r.isNullAt(1)) 2 else 0)).toByte
        }
        Iterator((a.result(), b.result(), mask.result()))
      }.collect()
    val a = Array.concat(parts.map(_._1).toIndexedSeq: _*)
    val b = Array.concat(parts.map(_._2).toIndexedSeq: _*)
    val mask = Array.concat(parts.map(_._3).toIndexedSeq: _*)
    // sorted distinct non-NULL ids; a node is its index in `ids`
    val all = new Array[Long](2 * a.length)
    var m = 0
    for (j <- a.indices) {
      if ((mask(j) & 1) == 0) { all(m) = a(j); m += 1 }
      if ((mask(j) & 2) == 0) { all(m) = b(j); m += 1 }
    }
    java.util.Arrays.sort(all, 0, m)
    var nIds = 0
    for (i <- 0 until m)
      if (nIds == 0 || all(i) != all(nIds - 1)) { all(nIds) = all(i); nIds += 1 }
    val ids = java.util.Arrays.copyOf(all, nIds)
    def at(id: Long) = java.util.Arrays.binarySearch(ids, id)
    val parent = Array.tabulate(nIds)(identity)
    def find(i0: Int): Int = {
      var i = i0
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    for (j <- a.indices if mask(j) == 0) {
      val ra = find(at(a(j)))
      val rb = find(at(b(j)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    // the NULL node: one exists where a pair joins NULL to an id, and
    // takes the smallest root among those ids (the loop's min-label hop
    // reaches a NULL node, but no join key ever reaches out of it)
    var nullRoot = -1
    for (j <- a.indices if mask(j) == 1 || mask(j) == 2) {
      val r = find(at(if (mask(j) == 1) b(j) else a(j)))
      if (nullRoot < 0 || r < nullRoot) nullRoot = r
    }
    val box: Long => Any =
      if (node.dataType == IntegerType) _.toInt else identity
    val rows = new java.util.ArrayList[Row](nIds + 1)
    if (nullRoot >= 0) rows.add(Row(null, box(ids(nullRoot))))
    for (i <- 0 until nIds) rows.add(Row(box(ids(i)), box(ids(find(i)))))
    ends.sparkSession.createDataFrame(rows, StructType(Seq(
      node.copy(name = "doc_id"),
      StructField("cluster_id", node.dataType, nullable = true))))
  }

  /** The last step of the dedup story: pick each cluster's SURVIVOR —
    * the member with the most content (n_chars), ties to the smallest
    * doc_id — plus the member count, so downstream curation can retire
    * everything else. The argmax is a `min(struct(-n_chars, doc_id))`
    * aggregation (map-side combinable), not a window: one shuffle whose
    * rows are clusters, not members.
    */
  def canonicalPerCluster(spark: SparkSession, dir: String,
      threshold: Double = 0.7): DataFrame = {
    val clusters = dedupClusters(spark, dir, threshold)
    val quality = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"))
    clusters.join(quality, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(min(struct((-col("n_chars")).as("neg_chars"), col("doc_id")))
          .as("best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("best.doc_id").as("keep_id"),
        (-col("best.neg_chars")).as("keep_chars"), col("n_members"))
      .orderBy(col("cluster_id"))
  }

  /** Eval-set membership rule for the self-contained decontamination
    * queries: every 20th doc_id plays the benchmark set, the rest the
    * training corpus. Real deployments pass their own eval frame to
    * [[decontaminateOn]].
    */
  private[graft] val EvalModulus = 20

  /** Benchmark decontamination over the documents table: drop every
    * training document that shares at least one word 8-gram with the
    * (doc_id % 20 == 0) eval split. See [[decontaminateOn]].
    */
  def decontaminate(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val docs = Tables.documents(spark, dir)
    decontaminateOn(docs.filter(col("doc_id") % EvalModulus =!= 0),
      docs.filter(col("doc_id") % EvalModulus === 0), k)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Test-set decontamination: remove from `corpus` every document that
    * shares at least one word k-gram with any document in `evalSet` —
    * the standard guard against benchmark leakage into training data
    * (GPT-3-style 13-gram overlap; k is a parameter because the right
    * length depends on document size).
    *
    * Scale design: the eval side is benchmarks — tiny next to a 100 TB
    * corpus — so its distinct shingle hashes BROADCAST and the corpus
    * side never shuffles: one narrow shingle pass, a broadcast semi-join
    * on the exploded frame, and a broadcast anti-join back onto the
    * corpus. Joining on xxhash64 instead of the shingle string keeps the
    * broadcast small (8 bytes/shingle); a 64-bit collision falsely
    * retires a clean document with probability ~2⁻⁶⁴ per shingle pair —
    * the conservative failure direction for decontamination. The corpus
    * schema passes through unchanged, so the operator composes into
    * curation pipelines ([[graft.pipeline.TextCuration]] stage 2).
    */
  def decontaminateOn(corpus: DataFrame, evalSet: DataFrame,
      k: Int = 8): DataFrame =
    // explicit broadcast: the contaminated-id set is bounded by the eval
    // set's reach, and without the hint planner stats above the
    // auto-broadcast threshold would flip this to a SortMergeJoin that
    // shuffles the full corpus — the exact failure this operator exists
    // to avoid
    corpus
      .join(broadcast(contaminationHits(corpus, evalSet, k)
        .select(col("doc_id")).distinct()), Seq("doc_id"), "left_anti")

  /** [[decontaminateOn]] for eval/blocklist sets too large to broadcast
    * as an exact hash set: the eval shingle hashes aggregate into ONE
    * Bloom-filter artifact via Spark's own `BloomFilterAggregate` — the
    * same machinery `InjectRuntimeFilter` ships to executors — and the
    * corpus scan is gated by a constant `might_contain` predicate on
    * that artifact.
    *
    * Scale contract vs the exact path: the exact set broadcasts 8 bytes
    * per DISTINCT eval shingle (at 10⁹ eval shingles, an 8 GB broadcast
    * — dead); the Bloom artifact is `numBits/8` bytes REGARDLESS of eval
    * size (default 8 bits/item ≈ 2% FP at capacity), and the corpus-side
    * gate stays a narrow scan predicate. Error direction is safe for
    * decontamination: no false negatives ever (every truly contaminated
    * doc is retired — spec-proved superset of the exact path), while a
    * false positive retires a clean document — the conservative loss.
    * The artifact is driver-held like the Count-Min sketch
    * ([[graft.streaming.EventStream]] cmsMaintain): one bounded-size
    * `head()`, not a data collect.
    */
  def decontaminateBloomOn(corpus: DataFrame, evalSet: DataFrame,
      k: Int = 8, expectedItems: Long = 4000000L): DataFrame = {
    val bf = evalBloom(evalSet, k, expectedItems)
    // empty eval set -> aggregate yields NULL, nothing can be
    // contaminated (same null-means-absent treatment as cmsMaintain)
    if (bf == null) return corpus
    val contaminated = corpus
      .select(col("doc_id"), explode(shingleHashes(col("text"), k)).as("h"))
      .filter(mightContain(bf, col("h")))
      .select(col("doc_id")).distinct()
    corpus.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
  }

  /** The driver-held Bloom artifact over an eval set's shingle hashes —
    * shared by [[decontaminateBloomOn]] and the streaming ingest gate
    * ([[graft.streaming.EventStream]] curateDocsBloom) so the two paths
    * can never disagree on shingling or capacity. NULL for an empty
    * eval set.
    */
  private[graft] def evalBloom(evalSet: DataFrame, k: Int,
      expectedItems: Long): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    evalSet
      .select(explode(shingleHashes(col("text"), k)).as("h"))
      .agg(column(
        new BloomFilterAggregate(expression(col("h")), expectedItems)
          .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** `might_contain(bf, h)` as a Column — the constant-artifact scan
    * predicate both Bloom decontamination paths gate on.
    */
  private[graft] def mightContain(bf: Array[Byte], h: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    import org.apache.spark.sql.types.BinaryType
    column(BloomFilterMightContain(Literal(bf, BinaryType), expression(h)))
  }

  /** Fractional decontamination: retire a training doc only when more
    * than `tau` of its distinct k-grams appear in the eval set — the
    * overlap-share policy production pipelines commonly run (any-hit
    * [[decontaminateOn]] is the conservative τ=0 extreme; the share
    * tolerates incidental phrase collisions while still catching real
    * eval copies). Emits the full audit row (n_shingles, n_hits,
    * hit_frac, retired) for EVERY training doc instead of silently
    * filtering — the same frame serves the gate and its evidence log.
    *
    * Scale shape identical to [[contaminationReport]]: eval shingles
    * broadcast once, the corpus never shuffles; the per-doc counts are
    * one map-side-combinable aggregation plus a doc_id join back.
    */
  def contaminationFraction(spark: SparkSession, dir: String, k: Int = 8,
      tau: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val train = docs.filter(col("doc_id") % EvalModulus =!= 0)
    val hits = contaminationHits(train,
        docs.filter(col("doc_id") % EvalModulus === 0), k)
      .groupBy(col("doc_id")).agg(count(lit(1)).cast("int").as("n_hits"))
    train
      // NULL text: the shingle kernel yields NULL (size would too), but
      // the oracle's CASE falls through to the [text] fallback = [NULL],
      // one shingle that can never match an eval gram — mirror that so
      // the audit row exists for every doc with retired=false, not NULL
      .select(col("doc_id"),
        when(col("text").isNull, lit(1))
          .otherwise(size(shingles(col("text"), k))).as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_hits"), lit(0)).as("n_hits"))
      .withColumn("hit_frac", col("n_hits") / col("n_shingles"))
      .withColumn("retired", col("hit_frac") > tau)
      .orderBy(col("doc_id"))
  }

  /** The audit twin of [[decontaminate]]: (doc_id, n_hits) for each
    * contaminated training document, n_hits = how many distinct eval
    * k-grams it contains — the evidence row a curation run logs next to
    * each retired document.
    */
  def contaminationReport(spark: SparkSession, dir: String,
      k: Int = 8): DataFrame = {
    val docs = Tables.documents(spark, dir)
    contaminationHits(docs.filter(col("doc_id") % EvalModulus =!= 0),
        docs.filter(col("doc_id") % EvalModulus === 0), k)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  /** (doc_id, h) for every corpus shingle hash that appears in the eval
    * set. Rows are distinct per (doc, shingle) by construction — the
    * shingle kernel dedups within a document — so counting them counts
    * distinct overlapping k-grams.
    */
  private def contaminationHits(corpus: DataFrame, evalSet: DataFrame,
      k: Int): DataFrame = {
    val evalSh = evalSet
      .select(explode(shingleHashes(col("text"), k)).as("h")).distinct()
    corpus
      .select(col("doc_id"), explode(shingleHashes(col("text"), k)).as("h"))
      .join(broadcast(evalSh), Seq("h"), "left_semi")
  }

  /** 64-bit SimHash over word unigrams: each token votes ±1 per bit of its
    * xxhash64; the sign vector packs into one long — ONE native
    * [[graft.functions.SimHash64]] kernel call per row (bit-identical to
    * the `aggregate`/`zip_with` formulation it replaced, see
    * `PropertySpec`). Near-dups block on 16-bit quarters: by pigeonhole,
    * hamming≤3 pairs must agree on at least one of the 4 quarters.
    * Output is (doc_id, simhash, the 4 block keys).
    */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashOn(Tables.documents(spark, dir))

  /** Same, over any (doc_id, text) frame — unit-testable. */
  def simhashOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val sh = ColumnBridge.column(
      graft.functions.SimHash64(ColumnBridge.expression(col("text"))))
    docs
      .select(col("doc_id"), sh.as("simhash"))
      .withColumn("q0", col("simhash").bitwiseAND(lit(0xFFFFL)))
      .withColumn("q1", shiftright(col("simhash"), 16).bitwiseAND(lit(0xFFFFL)))
      .withColumn("q2", shiftright(col("simhash"), 32).bitwiseAND(lit(0xFFFFL)))
      .withColumn("q3", shiftright(col("simhash"), 48).bitwiseAND(lit(0xFFFFL)))
      .orderBy(col("doc_id"))
  }

  /** SimHash near-duplicate pairs: candidates from the quarter blocks
    * (complete for hamming ≤ 3 by pigeonhole over 4 quarters), verified
    * with an exact popcount of the XOR — `bit_count`, a codegen'd
    * builtin. Same candidate-generation-first shape as every other dedup
    * path: the shuffle carries (quarter-key, doc) pairs, not documents.
    */
  def simhashNearDup(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame = {
    val quarters = simhashQuarters(Tables.documents(spark, dir))
    val a = quarters.select(col("q"), col("qh"),
      col("doc_id").as("da"), col("simhash").as("sha"))
    val b = quarters.select(col("q"), col("qh"),
      col("doc_id").as("db"), col("simhash").as("shb"))
    a.join(b, Seq("q", "qh"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        bit_count(col("sha").bitwiseXOR(col("shb"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("da"), col("db"))
  }

  /** The (doc_id, simhash, q, qh) frame every SimHash consumer shares —
    * one `simhash64` kernel call per doc, 4 quarter-block keys. ONE
    * definition keeps the in-query pair join, the stored index layout,
    * the append path, and the streaming gate on identical blocking
    * (the [[graft.operators.Multimodal]] phashBands contract).
    */
  private[operators] def simhashQuarters(docs: DataFrame): DataFrame =
    simhashOn(docs).select(col("doc_id"), col("simhash"),
      posexplode(array(col("q0"), col("q1"), col("q2"), col("q3")))
        .as(Seq("q", "qh")))

  /** Materialize the SimHash admission index: the corpus's quarter-block
    * keys written quarter-partitioned and sorted by `qh` within each
    * file, so a probe's (q, qh) lookups ride parquet row-group min/max
    * instead of scanning the quarter — the bit-signature sibling of
    * [[writeMinhashIndex]] / [[graft.operators.Multimodal
    * .writePhashIndex]]. Text is NOT stored; the 64-bit signature is the
    * whole retained state per (doc, quarter) — ~40 B/doc, so the index
    * for a 100 TB corpus is tens of GB and the probe side broadcasts.
    */
  def writeSimhashIndex(docs: DataFrame, path: String): Unit =
    simhashQuarters(docs)
      .repartition(col("q"))
      .sortWithinPartitions(col("qh"))
      .write.mode("overwrite").partitionBy("q").parquet(path)

  /** Partition-scoped append of a batch into a [[writeSimhashIndex]]
    * layout — new files land inside the existing quarter directories,
    * no existing file is rewritten, nothing reads the prior corpus;
    * append ≡ rebuild because the blocking is a pure function of the
    * text (the [[appendToMinhashIndex]] admission contract).
    */
  def appendToSimhashIndex(batch: DataFrame, path: String): Unit =
    simhashQuarters(batch)
      .write.mode("append").partitionBy("q").parquet(path)

  /** Probe a stored [[writeSimhashIndex]] layout with a batch of new
    * documents: the batch's 4 quarter keys (computed fresh,
    * broadcast-sized) join the index buckets, exact `bit_count` verify
    * on candidates — (batch_id, corpus_id, hamming) pairs at or under
    * the threshold. Candidates are COMPLETE for hamming ≤ 3 by
    * pigeonhole over the 4 quarters. The batch never touches corpus
    * text, only stored signatures.
    */
  def simhashJoinFromIndex(spark: SparkSession, batch: DataFrame,
      indexPath: String, maxHamming: Int = 3): DataFrame = {
    val b = simhashQuarters(batch).select(col("q"), col("qh"),
      col("doc_id").as("batch_id"), col("simhash").as("hb"))
    val idx = spark.read.parquet(indexPath)
      .select(col("q"), col("qh"), col("doc_id").as("corpus_id"),
        col("simhash").as("ha"))
    idx.join(broadcast(b), Seq("q", "qh"))
      .select(col("batch_id"), col("corpus_id"),
        bit_count(col("hb").bitwiseXOR(col("ha"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  /** The SimHash ALGORITHM twin: the identical vote-sign-pack, block
    * candidate generation, and Hamming verify as [[simhashNearDup]],
    * but over a 32-bit signature whose per-token hash is a pair of
    * polynomial-mod-prime folds (h·131 + code mod 1048573 / h·137 +
    * code mod 999983) instead of the engine-private XXH64 — every step
    * is exact integer arithmetic a second engine can replay, so this
    * surface is DuckDB-oracled end to end (the production
    * `q_dedup_simhash`/`q_simhash_pairs` keys stay on the codegen'd
    * 64-bit kernel and their goldens; this key pins the RULES: vote
    * ties clear the bit, quarter blocks are complete for hamming ≤ 3 by
    * pigeonhole, pairs dedupe across colliding blocks).
    *
    * Scale shape is unchanged from the production path: the char folds
    * run once per DISTINCT word (a Heaps-bounded vocab frame, joined
    * back — at 100 TB the vocab is megabytes while tokens are
    * terabytes), votes and the sign-pack are two map-side-combinable
    * aggregations, and the only wide exchange carries (block-key, doc)
    * rows — never documents, never all-pairs. The mod keeps the fold
    * state < 2²⁰ so h·137 + 255 < 2²⁸: no overflow on either engine.
    */
  def simhashTwin(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame =
    simhashTwinOn(Tables.documents(spark, dir), maxHamming)

  /** Same, over any (doc_id, text) frame. */
  def simhashTwinOn(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val tk = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    // per-WORD hashes on the distinct vocab; the fold is index-ordered
    // (sequence 1..len) so both engines walk the chars identically
    val hv = tk.select(col("w")).distinct().selectExpr("w",
      "aggregate(sequence(1, length(w)), 0L, (h, i) -> " +
        "(h * 131L + ascii(substring(w, i, 1))) % 1048573L) AS h1",
      "aggregate(sequence(1, length(w)), 0L, (h, i) -> " +
        "(h * 137L + ascii(substring(w, i, 1))) % 999983L) AS h2")
    // ±1 votes per (doc, bit): bits 0–15 from h1, 16–31 from h2
    val tv = tk.join(hv, Seq("w"))
      .select(col("doc_id"), col("h1"), col("h2"),
        explode(sequence(lit(0), lit(31))).as("j"))
      .selectExpr("doc_id", "j",
        """CASE WHEN ((CASE WHEN j < 16 THEN shiftright(h1, j)
          |            ELSE shiftright(h2, j - 16) END) & 1) = 1
          |     THEN 1 ELSE -1 END AS sign""".stripMargin)
      .groupBy(col("doc_id"), col("j"))
      .agg(sum(col("sign")).as("vote"))
    val sh = tv
      .selectExpr("doc_id",
        "CASE WHEN vote > 0 THEN shiftleft(1L, j) ELSE 0L END AS bit")
      .groupBy(col("doc_id")).agg(sum(col("bit")).as("simhash"))
    val bl = sh
      .select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("q"))
      .selectExpr("doc_id", "simhash", "q",
        "shiftright(simhash, 8 * q) & 255 AS bk")
    val a = bl.select(col("q"), col("bk"),
      col("doc_id").as("da"), col("simhash").as("sa"))
    val b = bl.select(col("q"), col("bk"),
      col("doc_id").as("db"), col("simhash").as("sb"))
    a.join(b, Seq("q", "bk"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("da"), col("db"))
  }

  /** Embedding-cosine near-duplicate detection: 64 sign bits from the
    * fixed [[graft.functions.Hyperplanes]] codebook, banded 4x16 for
    * candidates, exact cosine verify. The wide 16-bit bands matter on
    * clustered corpora: same-cluster vectors at cos≈0.8 agree on ~80% of
    * sign bits, so narrow bands bucket whole clusters together (candidate
    * volume → cluster² / 2); at 16 bits a cos-0.8 pair collides with
    * p≈0.026 per band while a true near-dup (cos≥0.99) still collides with
    * p≈0.48 per band — ≥0.93 over 4 bands. Sign projection is ONE native
    * `emb_sign_bands` call per row; the verify cosine is a codegen'd
    * `vec_dot` loop.
    */
  def embeddingNearDup(spark: SparkSession, dir: String,
      threshold: Double = 0.95): DataFrame =
    embeddingNearDupOn(Tables.embeddings(spark, dir), threshold)

  /** [[embeddingNearDup]] with deterministic planted near-dups: every
    * 25th vector is unioned back in under vec_id + 1,000,000 with its
    * first component scaled by 1.01 (cosine to its source ≈ 1 − 1e-5).
    * The natural corpus has no pair above cos ≈ 0.48, so without the
    * plants the ≥0.95 result is empty and the oracle would verify only
    * the zero-row case; the plants exercise the full LSH recall path on
    * both engines.
    *
    * Probabilistic-oracle caveat (same class as q_minhash_join): the
    * Spark side is LSH-candidate-based while the DuckDB twin is exact
    * all-pairs, so a planted pair the multi-probe bands miss would flip
    * the row/hash match without a code bug. At cos ≈ 1 − 1e-5 the
    * per-pair miss probability is < 1e-12 (p_bit ≈ 0.9986, four 16-bit
    * bands + 1-bit probes), and the data is fixed, so the comparison is
    * deterministic in practice.
    */
  def embeddingNearDupPlanted(spark: SparkSession, dir: String,
      threshold: Double = 0.95): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("embedding"))
    val planted = base.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, x * lit(1.01)).otherwise(x)).as("embedding"))
    embeddingNearDupOn(base.unionByName(planted), threshold,
      multiProbe = true)
  }

  /** Same, over any (vec_id, embedding array<float|double>) frame —
    * unit-testable with planted duplicates.
    *
    * `multiProbe` additionally probes every 1-bit-flip neighbor of each
    * band bucket, catching pairs whose band hashes differ in exactly one
    * sign bit. Per 16-bit band the collision probability rises from p¹⁶
    * to p¹⁶ + 16·p¹⁵(1−p) (p = per-bit sign agreement, 1 − θ/π) — at
    * cos 0.9 that's 0.084 → 0.31 per band, ≈0.30 → ≈0.77 recall over 4
    * bands — pushing useful recall below the 0.95 regime WITHOUT adding
    * rows/bands for everyone. The probing is asymmetric (only the left
    * side fans out ×17), so candidate volume grows linearly with probes,
    * not quadratically the way wider buckets would on clustered corpora.
    */
  def embeddingNearDupOn(emb: DataFrame, threshold: Double,
      multiProbe: Boolean = false): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    import graft.functions.SignBands
    val v = emb.select(col("vec_id"), vecD(col("embedding")).as("v"))
    val signBands =
      ColumnBridge.column(SignBands(ColumnBridge.expression(col("v"))))
    val buckets = v.select(col("vec_id"),
        posexplode(signBands).as(Seq("band", "h")))
    // probe side: the bucket itself plus (optionally) its 16 one-bit-flip
    // neighbors; index side stays exact, so each ≤1-bit pair is found once
    val probeKeys =
      if (!multiProbe) buckets
      else buckets.select(col("vec_id"), col("band"),
        explode(array(col("h") +:
          (0 until graft.functions.Hyperplanes.RowsPerBand)
            .map(i => col("h").bitwiseXOR(lit(1 << i))): _*)).as("h"))
    val cands = probeKeys.as("a")
      .join(buckets.as("b"), col("a.band") === col("b.band")
        && col("a.h") === col("b.h") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      .distinct()
    val va = v.select(col("vec_id").as("va"), col("v").as("ea"))
    val vb = v.select(col("vec_id").as("vb"), col("v").as("eb"))
    cands.join(va, "va").join(vb, "vb")
      .withColumn("cos", cosine(col("ea"), col("eb")))
      .filter(col("cos") >= threshold)
      .select(col("va"), col("vb"), col("cos"))
      .orderBy(col("va"), col("vb"))
  }
}
