package graft.pipeline

import graft.Materialize.MatOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Sampling}
import graft.sources.Tables

/** End-to-end corpus curation — the documents-table counterpart of the
  * reference-parity `Pipeline.run` (EP1): compose the individually
  * oracle-checked curation operators into the standard training-data
  * flow, with per-stage counts for auditability.
  *
  *   1. quality gate: token-count bounds + lexical-diversity floor
  *      (narrow filter);
  *   2. benchmark decontamination: the eval split (doc_id % 20 == 0
  *      stands in for the benchmark set) leaves the corpus, and any
  *      training doc sharing a word 8-gram with it is retired
  *      (broadcast anti-join — see [[graft.operators.Dedup.decontaminateOn]]);
  *   3. near-dup retirement: MinHash pairs → clusters → keep each
  *      cluster's canonical survivor, drop the other members (anti-join);
  *   4. per-source cap (deterministic md5 priority);
  *   5. token-budget sequence packing of what remains.
  *
  * Every stage is deterministic, so the curated corpus — and each
  * stage's drop set — re-materializes bit-identically. Stages run as one
  * composed plan per output; `summary` re-derives the counts with
  * aggregations rather than driver-side loops.
  */
object TextCuration {

  case class Config(
    minTokens: Int = 20,
    maxTokens: Int = 2000,
    minDistinctRatio: Double = 0.3,
    decontamK: Int = 8,
    dedupThreshold: Double = 0.7,
    capPerSource: Int = 50,
    packBudget: Int = 512)

  /** The curated corpus: (doc_id, source, lang, n_tokens, seq_id), one
    * row per surviving document, packed into training sequences.
    */
  def run(spark: SparkSession, dir: String,
      cfg: Config = Config()): DataFrame =
    runOn(Tables.documents(spark, dir), cfg,
      Some(Dedup.nearDupPairs(spark, dir, cfg.dedupThreshold)))

  /** [[run]] over any documents-shaped frame — the same pipeline runs on
    * the table fixture and on any in-flight corpus. `fullPairs`, when
    * given, is the FULL-corpus verified near-dup pair frame (the memoized
    * [[Dedup.nearDupPairs]] artifact): the dedup stage then restricts it
    * to the surviving population ([[Dedup.restrictPairs]] — exact, the
    * upstream stages filter documents and never rewrite text) instead of
    * re-running the MinHash stage on the subset.
    */
  def runOn(docs: DataFrame, cfg: Config = Config(),
      fullPairs: Option[DataFrame] = None): DataFrame = {
    val kept = keptAfterCapFrom(keptAfterDedupOn(docs, cfg, fullPairs), cfg)
    // pack survivors within each lang shard (same shape as
    // Sampling.tokenPack, over the curated frame)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    kept
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("seq_id",
        floor((col("cum") - col("n_tokens")) / lit(cfg.packBudget)))
      .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"),
        col("seq_id"))
      .orderBy(col("doc_id"))
  }

  /** Per-stage survivor counts: (stage, n_docs) in pipeline order —
    * the audit trail a curation run ships with its corpus. Each stage
    * frame is persisted before the next stage builds on it, so counting
    * five stages costs one pipeline execution plus four cached reads —
    * NOT a re-run of the upstream pipeline (and its iterative CC loop)
    * per count.
    */
  def summary(spark: SparkSession, dir: String,
      cfg: Config = Config()): DataFrame =
    summaryFrom(Tables.documents(spark, dir), cfg,
      Some(Dedup.nearDupPairs(spark, dir, cfg.dedupThreshold)))

  /** [[summary]] over any documents-shaped frame (near-dup pairs
    * computed inline) — the batch reference the streaming
    * [[graft.streaming.EventStream.curationSink]] spec compares
    * stage counts against.
    */
  def summaryOn(docs: DataFrame, cfg: Config = Config()): DataFrame =
    summaryFrom(docs, cfg, None)

  /** The one body of [[summary]] and [[summaryOn]]; `fullPairs` as in
    * [[runOn]].
    */
  private def summaryFrom(docs: DataFrame, cfg: Config,
      fullPairs: Option[DataFrame]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qualityDf = qualityGateOn(docs, cfg).persist()
    val cleanDf = decontaminatedOn(docs, qualityDf, cfg).persist()
    val dedupDf = keptAfterDedupFrom(cleanDf, cfg, fullPairs).persist()
    try {
      val input = docs.count()
      val quality = qualityDf.count()
      val clean = cleanDf.count()
      val deduped = dedupDf.count()
      val capped = keptAfterCapFrom(dedupDf, cfg).count()
      Seq(("1_input", input), ("2_quality", quality), ("3_decontam", clean),
        ("4_dedup", deduped), ("5_cap", capped)).toDF("stage", "n_docs")
    } finally {
      dedupDf.unpersist(); cleanDf.unpersist(); qualityDf.unpersist()
    }
  }

  /** Stage 1: quality gate over (doc_id, source, lang, n_tokens). */
  private[graft] def qualityGateOn(docs: DataFrame, cfg: Config): DataFrame = {
    val t = split(col("text"), " ")
    docs
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        size(t).as("n_tokens"),
        // native k=1 shingle kernel ≡ size(array_distinct(t)), minus
        // ArrayDistinct's O(n²) string membership scan
        (size(Dedup.shingles(col("text"), 1)) / size(t))
          .as("distinct_ratio"))
      .filter(col("n_tokens") >= cfg.minTokens
        && col("n_tokens") <= cfg.maxTokens
        && col("distinct_ratio") >= cfg.minDistinctRatio)
  }

  /** Stage 2: benchmark decontamination over the quality survivors. The
    * eval split is carved from the RAW documents table (an eval doc that
    * failed the quality gate still must not leak), training docs are the
    * non-eval quality survivors, and overlap is word `decontamK`-gram
    * membership.
    */
  private def decontaminatedOn(docs: DataFrame,
      quality: DataFrame, cfg: Config): DataFrame =
    Dedup.decontaminateOn(
      quality.filter(col("doc_id") % Dedup.EvalModulus =!= 0),
      docs.filter(col("doc_id") % Dedup.EvalModulus === 0),
      cfg.decontamK)

  /** Stage 3: retire every near-dup cluster member except its canonical
    * survivor. Retired = clustered docs minus survivors; survivors are
    * chosen by content length (ties to smallest doc_id) WITHIN the
    * decontaminated population, so a dropped low-quality or contaminated
    * doc can't win a cluster.
    */
  private[pipeline] def keptAfterDedup(spark: SparkSession, dir: String,
      cfg: Config): DataFrame =
    keptAfterDedupOn(Tables.documents(spark, dir), cfg,
      Some(Dedup.nearDupPairs(spark, dir, cfg.dedupThreshold)))

  private def keptAfterDedupOn(docs: DataFrame, cfg: Config,
      fullPairs: Option[DataFrame] = None): DataFrame =
    keptAfterDedupFrom(
      decontaminatedOn(docs, qualityGateOn(docs, cfg), cfg)
        .cutLineage(), cfg, fullPairs)

  /** Callers pass a MATERIALIZED frame (persisted or checkpointed):
    * `clean` feeds three consumers here (the minhash pipeline, the
    * survivor-quality join, the final anti-join), so an unmaterialized
    * input re-runs the whole quality+decontam chain three times — three
    * corpus scans where one suffices. [[keptAfterDedup]] checkpoints for
    * the composed path; [[summary]] passes its persisted stage frame —
    * exactly one storage layer either way.
    */
  private def keptAfterDedupFrom(clean: DataFrame,
      cfg: Config, fullPairs: Option[DataFrame] = None): DataFrame = {
    // pairs over the clean SUBSET == full-corpus pairs restricted to it
    // (filter-only upstream stages), so a memoized full-corpus artifact
    // substitutes exactly for the fresh subset computation
    val pairs = fullPairs
      .map(p => Dedup.restrictPairs(p, clean.select(col("doc_id"))))
      .getOrElse(
        Dedup.minhashNearDupOn(clean.select(col("doc_id"), col("text")),
          cfg.dedupThreshold))
    val clusters = Dedup.clustersFromPairs(
      pairs.select(col("da"), col("db")))
    val survivors = clusters
      .join(clean.select(col("doc_id"), col("n_tokens")), "doc_id")
      .groupBy(col("cluster_id"))
      .agg(min(struct((-col("n_tokens")).as("neg"), col("doc_id"))).as("best"))
      .select(col("best.doc_id").as("doc_id"))
    val retired = clusters.select(col("doc_id"))
      .join(survivors, Seq("doc_id"), "left_anti")
    clean.join(retired, Seq("doc_id"), "left_anti")
  }

  /** Stage 4: per-source cap with deterministic md5 priority. */
  private def keptAfterCapFrom(deduped: DataFrame, cfg: Config): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    deduped
      .withColumn("pick", row_number().over(w))
      .filter(col("pick") <= cfg.capPerSource)
      .drop("pick", "text", "distinct_ratio")
  }
}
