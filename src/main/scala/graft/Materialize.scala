package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Lineage-cut materialization with a configurable durability mode.
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
  * The default vehicle is `localCheckpoint`: blocks live unreplicated in
  * executor storage memory and lineage is truncated. That is the fastest
  * option and the right one for single-tenant batch runs — but on a
  * shared cluster with dynamic allocation (or plain executor loss) a
  * vanished block is unrecoverable mid-job, because truncation threw the
  * recompute path away. `spark.graft.materialize.mode` picks the
  * trade-off per deployment:
  *
  *   - `local` (default): `localCheckpoint` — fastest, unreplicated,
  *     executor loss fails the job. Right for dedicated clusters and
  *     local runs.
  *   - `reliable`: `Dataset.checkpoint` to
  *     `spark.graft.materialize.dir` (set it to an HDFS/object-store
  *     path on a cluster; defaults to a temp dir locally) — lineage is
  *     truncated AND the cut survives any executor loss. Right for long
  *     multi-stage corpus runs under dynamic allocation; costs one
  *     write+read of the frame.
  *   - `persist`: `persist(MEMORY_AND_DISK)` — lineage is KEPT, so lost
  *     partitions recompute from source; no replication or external
  *     write. Right for mid-size runs where recompute is cheaper than a
  *     reliable write. Note iterative loops under this mode grow their
  *     plan per round (nothing truncates), so it suits the
  *     multi-consumer shape better than the O(log n)-round algorithms.
  *
  * Read-before-overwrite sites ([[cutForOverwrite]]) never use `persist`:
  * kept lineage still points at the files being replaced, so a recompute
  * after the overwrite would read the NEW files — silent corruption. In
  * `persist` mode those sites fall back to `localCheckpoint`.
  */
object Materialize {
  val ModeKey = "spark.graft.materialize.mode"
  val DirKey = "spark.graft.materialize.dir"

  implicit final class MatOps(private val df: DataFrame) extends AnyVal {
    /** Multi-consumer / iterative lineage cut (situation 1 above). */
    def cutLineage(eager: Boolean = false): DataFrame =
      Materialize.cut(df, eager)

    /** Eager cut guaranteeing independence from the frame's source files
      * (situation 2 above) — always truncates lineage, always eager.
      */
    def cutForOverwrite(): DataFrame = Materialize.forOverwrite(df)
  }

  private def mode(spark: SparkSession): String =
    spark.conf.get(ModeKey, "local") match {
      case m @ ("local" | "reliable" | "persist") => m
      case other => throw new IllegalArgumentException(
        s"$ModeKey must be local|reliable|persist, got '$other'")
    }

  /** An explicit `SparkContext.setCheckpointDir` always wins; otherwise
    * `spark.graft.materialize.dir` is applied on first use. A silent
    * driver-local default is only acceptable on a local master — on a
    * cluster each executor would checkpoint to its OWN local disk and
    * later reads from other nodes would FileNotFound mid-job, so a
    * cluster run without a configured shared dir fails loudly instead.
    */
  private def ensureCheckpointDir(spark: SparkSession): Unit =
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      val dir = spark.conf.getOption(DirKey).getOrElse {
        require(spark.sparkContext.isLocal,
          s"mode=reliable on a cluster requires $DirKey (or an explicit " +
            "SparkContext.setCheckpointDir) pointing at shared storage")
        s"${System.getProperty("java.io.tmpdir")}/graft-materialize"
      }
      spark.sparkContext.setCheckpointDir(dir)
    }

  /** Reliable checkpoints persist-then-checkpoint: `Dataset.checkpoint`
    * alone runs the action job and then a SECOND job that recomputes
    * every partition from lineage to write the files — persisting first
    * makes the write job read the cached blocks, so the frame computes
    * once (the blocks are dropped again once an eager checkpoint has
    * landed). Checkpoint FILES are garbage-collected by the
    * ContextCleaner when the frame is no longer referenced —
    * [[GraftSession]] pins `spark.cleaner.referenceTracking
    * .cleanCheckpoints=true` for exactly this; sessions built elsewhere
    * should set it too or long runs leak checkpoint storage.
    */
  private def reliableCheckpoint(df: DataFrame, eager: Boolean): DataFrame = {
    ensureCheckpointDir(df.sparkSession)
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    val cp = p.checkpoint(eager)
    if (eager) p.unpersist(blocking = false)
    cp
  }

  def cut(df: DataFrame, eager: Boolean): DataFrame = mode(df.sparkSession) match {
    case "local" => df.localCheckpoint(eager)
    case "reliable" => reliableCheckpoint(df, eager)
    case "persist" =>
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      if (eager) p.count()
      p
  }

  def forOverwrite(df: DataFrame): DataFrame = mode(df.sparkSession) match {
    case "reliable" => reliableCheckpoint(df, eager = true)
    case _ => df.localCheckpoint(eager = true)
  }

  /** Resolve a root for an on-disk serving artifact built INSIDE a query
    * (the [[graft.operators.Retrieval.rrfFusion]] index pair). Uses
    * `spark.graft.materialize.dir` when configured — the same shared-
    * location convention the reliable checkpoint mode rides — and only
    * falls back to the JVM temp dir on a LOCAL master: on a cluster a
    * `file:` temp path is driver/executor-local, so each node would
    * write and read its OWN disk and the memoized artifact would be
    * silently incomplete (the exact hazard [[ensureCheckpointDir]]
    * fails loudly on — same discipline here). The UUID suffix keeps
    * concurrent sessions sharing one configured dir from colliding.
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
    *    `$base/artifacts/` by age out-of-band, like any checkpoint dir.
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
    *
    *  - `local`/`reliable` modes: unpersist the `LogicalRDD`-scanned RDDs
    *    the cut left in the plan (reliable cuts already dropped their
    *    bootstrap persist; their checkpoint FILES are reclaimed by the
    *    ContextCleaner when the frame is collected, so this is a no-op
    *    accelerator there).
    *  - `persist` mode: plain `unpersist` via the cache manager; lineage
    *    was kept, so a stray late read merely recomputes — safe.
    */
  def release(df: DataFrame): Unit = mode(df.sparkSession) match {
    case "persist" => df.unpersist(blocking = false)
    case _ =>
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
