package graft

import org.apache.spark.sql.SparkSession

/** The blessed session factory — one place for every setting the engine's
  * semantics depend on, so a user switching from the reference gets a
  * correctly configured session in one call (and Verify/Bench/tests can't
  * drift apart):
  *
  *   - `graft.GraftExtensions` registers the native expressions for the
  *     SQL surface;
  *   - UTC session timezone pins date/timestamp functions (SURVEY §7.5 #3);
  *   - ANSI off matches the PySpark 3.5 reference semantics (x/0 → NULL,
  *     no overflow errors) rather than Spark 4's ANSI default;
  *   - nanos-as-long lets the TIMESTAMP(NANOS) events table load
  *     (truncated to micros in [[graft.sources.Tables.events]]);
  *   - a 256-entry codegen cache keeps a streaming sink's generated
  *     classes compiled across micro-batches. Spark keys the cache on
  *     (context class loader, code body), and in local mode each body
  *     is cached under both the driver thread's loader and the
  *     executor's per-session loader. One steady-state
  *     [[graft.streaming.EventStream.curationSink]] batch with the LM
  *     stage on touches 171 such entries (106 bodies), and up to 190
  *     across two consecutive batches; Guava splits the cache into 4
  *     LRU segments of cap/4, and the fullest segment held up to 60 of
  *     them. Without the LM stage a batch touched 152–153 entries (95–96
  *     bodies), up to 174 across two batches, fullest segment 52; the
  *     LM figures predate the MinHash band kernel. Since the near-dup
  *     stage became one band join over the decontam cut, a steady batch
  *     without the LM stage touches 137–147 entries (counted as the
  *     compiles of a batch run on an emptied cache) and compiles 2–10
  *     classes on a warm one. Spark's default of
  *     100 evicted most entries before their next use, so each batch
  *     recompiled about 155 classes. Each extra
  *     entry pins its session loader (about 33 KB), hence no more than
  *     this. The conf is static and JVM-global: Spark reads it once,
  *     at the JVM's first code generation, so it takes effect only if
  *     this builder builds the JVM's first session.
  *
  * Cluster deployments use the same builder with a cluster master URL —
  * nothing here is local-mode-specific except the defaults.
  */
object GraftSession {
  def builder(master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors)
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "256")
      // Runtime bloom-filter pruning for fact⋈fact shuffle joins
      // (lineitem⋈orders): the filtered side's join keys are sketched and
      // applied to the big side's scan before the exchange. Pinned on;
      // the default size thresholds (10 MB creation / 10 GB application
      // side) keep it out of toy-scale plans and engage it exactly in the
      // 100 TB regime it exists for. Plan proof: PlanSpec's bloom test.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.ui.enabled", "false")
}
