package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lineage-cut materialization: every mid-plan cut is a Spark
  * `localCheckpoint`.
  *
  * The engine materializes a frame mid-plan in exactly two situations:
  *
  *   1. **Multi-consumer / iterative cuts** — a frame read by several
  *      downstream branches (collapsed postings read by both the df
  *      aggregation and the scoring join) or rebuilt every round of an
  *      iterative algorithm (connected components, BPE merges), where
  *      re-deriving it per consumer / letting lineage grow per round
  *      would multiply the dominant scan or blow up the optimizer.
  *   2. **Read-before-overwrite cuts** — a frame derived from files that
  *      are about to be OVERWRITTEN (compaction, streaming sketch
  *      maintenance). Here the cut is a correctness requirement, not an
  *      optimization: the materialized copy must not depend on the
  *      doomed files.
  *
  * A local checkpoint keeps its blocks unreplicated in executor storage
  * memory and truncates the lineage. That is the fastest cut and the
  * right one for the single-node batch and micro-batch jobs this engine
  * runs. Its failure mode: a lost executor takes blocks with it that
  * nothing can recompute, so the job fails and a retry restarts it; a
  * memoized artifact whose blocks are lost is retrained through
  * [[graft.ArtifactMemo.invalidate]].
  */
object Materialize {
  val DirKey = "spark.graft.materialize.dir"

  implicit final class MatOps(private val df: DataFrame) extends AnyVal {
    /** Multi-consumer / iterative lineage cut (situation 1 above). Lazy
      * by default, where Spark's own `localCheckpoint()` is eager.
      */
    def cutLineage(eager: Boolean = false): DataFrame =
      df.localCheckpoint(eager)

    /** Eager cut guaranteeing independence from the frame's source files
      * (situation 2 above).
      */
    def cutForOverwrite(): DataFrame = df.localCheckpoint(eager = true)
  }

  /** Resolve a root for an on-disk serving artifact built INSIDE a query
    * (the [[graft.operators.Retrieval.rrfFusion]] index pair). Uses
    * `spark.graft.materialize.dir`, a deployment's shared root, when
    * configured, and only falls back to the JVM temp dir on a LOCAL
    * master: on a cluster a `file:` temp path is driver/executor-local,
    * so each node would write and read its OWN disk and the memoized
    * artifact would be silently incomplete; that case fails loudly
    * instead. The UUID suffix keeps concurrent sessions sharing one
    * configured dir from colliding.
    *
    * Lifecycle (the UUID means nothing else ever reuses the path, so
    * un-deleted artifacts ACCUMULATE — each cold build is a full index
    * copy):
    *
    *  - **replace-on-rebuild**: when the SAME session asks for the same
    *    `name` again (an [[graft.ArtifactMemo.invalidate]] + retrain
    *    cycle), the previously issued directory is best-effort deleted —
    *    by the memo contract the old artifact has no live consumers once
    *    its memo entry is dropped (same caller obligation as
    *    [[release]]). That contract only holds if `name` is UNIQUE per
    *    memo entry: a caller that memoizes per data dir but issues a
    *    fixed name would have its first dir's artifact deleted while the
    *    memo still lazily serves that path — so pass the memo key itself
    *    (or anything embedding every memo-key dimension, e.g.
    *    `s"rrf_idx:$dir"`) as `name`. Non-path-safe characters are
    *    sanitized for the directory component only; the raw `name` keys
    *    the bookkeeping. Other sessions' siblings are never touched: the
    *    bookkeeping is additionally keyed by applicationId, exactly
    *    because the shared configured dir may be serving concurrent
    *    sessions.
    *  - **exit cleanup (local master)**: the temp-dir fallback registers
    *    `FileSystem.deleteOnExit`, so a local run leaves nothing behind.
    *  - **cluster residue**: a session that dies without rebuilding
    *    leaves its last artifact on shared storage — prune
    *    `$base/artifacts/` by age out-of-band.
    */
  def artifactDir(spark: SparkSession, name: String): String = {
    val base = spark.conf.getOption(DirKey).getOrElse {
      require(spark.sparkContext.isLocal,
        s"building an on-disk serving artifact on a cluster requires " +
          s"$DirKey pointing at shared storage (a JVM temp dir is " +
          "node-local and the artifact would be silently incomplete)")
      s"${System.getProperty("java.io.tmpdir")}/graft-materialize"
    }
    val safe = name.replaceAll("[^A-Za-z0-9._-]", "_")
    val dir = s"$base/artifacts/$safe-${java.util.UUID.randomUUID}"
    val prev = issuedArtifacts
      .put((spark.sparkContext.applicationId, name), dir)
    if (prev != null) bestEffortDelete(spark, prev)
    if (spark.sparkContext.isLocal) try {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .deleteOnExit(p)
    } catch { case scala.util.control.NonFatal(_) => () }
    dir
  }

  private val issuedArtifacts =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  private def bestEffortDelete(spark: SparkSession, dir: String): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
      ()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Row count of a frame in ONE job: a plain RDD count, where
    * `Dataset.count()` plans a partial-aggregate shuffle and pays a map
    * job plus a result job. On a lazy [[MatOps.cutLineage]] frame that
    * job is also the cut's materializer, so a cut-then-count costs what
    * an eager cut alone costs.
    */
  def count(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Free the storage behind an ALREADY-CUT frame that will never be read
    * again. A pipeline that cuts two near-corpus-sized intermediates
    * back-to-back (tf then weighted postings in
    * [[graft.operators.TextAnalysis.tfidfCosinePairsOn]]) would otherwise
    * keep BOTH resident for the life of the job — release the earlier one
    * once the later cut has materialized and the peak block-manager
    * footprint halves. Releasing a frame that downstream plans still
    * reference is the caller's bug: a localCheckpoint's blocks ARE its
    * data (lineage was truncated), so a later read fails — call this only
    * after an EAGER cut of every consumer.
    */
  def release(df: DataFrame): Unit = {
    // Guard, not just a docstring: a frame RETURNED BY cutLineage is
    // exactly one LogicalRDD scan. A derived frame (a join of two
    // cuts, a transform over one) would surface EVERY cut in its
    // subtree here, and unpersisting them all destroys blocks other
    // consumers still reference — fail that call loudly instead.
    val rdds = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    require(rdds.size == 1,
      s"Materialize.release expects a frame returned by cutLineage " +
        s"(exactly one materialized scan in its plan); got ${rdds.size} " +
        "— releasing a derived frame would drop blocks shared with " +
        "other consumers")
    rdds.foreach(_.unpersist(blocking = false))
  }
}
